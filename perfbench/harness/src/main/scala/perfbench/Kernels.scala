package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._

/** The native-kernel layer of the traced run: every `graft_*` expression
  * timed through its GraftFunctions column API on the workload's own
  * documents and embeddings columns, net of a pass-through projection of
  * the same input, and checked against a property its output must have.
  * A kernel whose output breaks its property counts as a failed operation. */
object Kernels {
  /** Copies of each corpus row in the timed frames, so a timing covers
    * enough rows to stand clear of the per-job overhead. */
  val Copies = 100
  val Reps = 3

  /** A kernel: the timed expression, the input column it is netted
    * against, and a predicate its output must meet on every row. */
  final case class K(name: String, frame: String, timed: Column, base: String,
      property: Column => Column)

  /** (kernel, net ns per row, why its output broke its property if it did) */
  def run(spark: SparkSession, dir: String): Seq[(String, Double, Option[String])] = {
    val t = graft.Tables(spark, dir)
    val copies = spark.range(Copies).toDF("copy")
    val docs = t.documents.select("doc_id", "text").crossJoin(copies)
      .withColumn("sh", shingleHashes(col("text"), 3))
      .withColumn("ws", graftTokens(col("text")))
    val emb = t.embeddings.select("vec_id", "embedding").crossJoin(copies)
      .withColumn("e2", transform(col("embedding"), x => x * lit(2.0f)))

    // constant tables, as the catalog's operators broadcast them: 4 PQ codes
    // and 16 IVF centroids cut from the corpus's own first vectors
    val first = t.embeddings.orderBy("vec_id").limit(16).collect()
    val ids = first.map(_.getLong(0))
    val vecs = first.map(_.getSeq[Float](1).toArray)
    val subs = 8; val sub = vecs.head.length / subs; val codes = 4
    val cbflat = for (s <- 0 until subs; c <- 0 until codes; j <- 0 until sub)
      yield vecs(c)(s * sub + j).toDouble
    val ceflat = vecs.flatten.map(_.toDouble)
    val isCode = col("vec_id").isin(ids.take(codes).toSeq: _*)
    val codeOf = element_at(typedLit(ids.take(codes).zipWithIndex.toMap), col("vec_id"))
    val lut = Array.tabulate(codes * subs)(i => math.sqrt(i + 1.0))
    val vocab = t.documents.select(explode(graftTokens(col("text"))).as("w")).distinct()
      .orderBy("w").limit(12).collect().map(_.getString(0))
    val weights = vocab.indices.map(i => (i + 1).toLong).toArray
    val weightMap = typedLit(vocab.zip(weights).toMap)
    val codesOf = pqEncode(col("embedding"), typedLit(cbflat.toArray))
    // ADC is the left-associated sum of one LUT entry per subspace
    val lutSum = (0 until subs).map(s =>
      element_at(typedLit(lut), col("codes").getItem(s) * subs + s + 1)).reduce(_ + _)

    val kernels = Seq(
      K("cosine", "emb", cosineSim(col("embedding"), col("embedding")), "embedding",
        k => abs(k - 1.0) < 1e-9),
      K("l2sq", "emb", l2sq(col("embedding"), col("embedding")), "embedding",
        k => k === 0.0),
      K("lsh_bucket", "emb", lshBucket(col("embedding"), 6), "embedding",
        k => k.between(0, 63) && k === lshBucket(col("e2"), 6)),
      K("minhash", "docs", minhash(col("sh"), 16), "sh",
        k => size(k) === 16 && k === minhash(reverse(col("sh")), 16)),
      K("shingle_hashes", "docs", shingleHashes(col("text"), 3), "text",
        k => size(k) === size(array_distinct(k)) &&
          size(k) <= greatest(size(col("ws")) - 2, lit(0))),
      K("gram_hashes", "docs", gramHashes(col("text"), 3), "text",
        k => size(k) === greatest(size(col("ws")) - 2, lit(0)) &&
          array_sort(array_distinct(k)) === array_sort(col("sh"))),
      K("fingerprint", "docs", fingerprint(col("text")), "text",
        k => k === fingerprint(concat(col("text"), lit("  ")))),
      K("pq_encode", "emb", codesOf, "embedding",
        k => size(k) === subs && forall(k, c => c.between(0, codes - 1)) &&
          (!isCode || k === array_repeat(codeOf, subs))),
      K("pq_adc", "embc", pqAdcNative(col("codes"), typedLit(lut)), "codes",
        k => k === lutSum),
      K("ivf_argmax", "emb", ivfArgmax(col("embedding"), typedLit(ids), typedLit(ceflat)),
        "embedding", k => k.isin(ids.toSeq: _*) &&
          (!col("vec_id").isin(ids.toSeq: _*) || k === col("vec_id"))),
      K("nb_dot", "docs", nbDot(col("ws"), typedLit(vocab), typedLit(weights)), "ws",
        k => k === aggregate(col("ws"), lit(0L),
          (acc, w) => acc + coalesce(element_at(weightMap, w), lit(0L)))),
      K("jl_project", "emb", jlProject(col("embedding")), "embedding",
        k => size(k) === 8 && jlProject(col("e2")) === transform(k, y => y * 2)),
      K("tokens", "docs", graftTokens(col("text")), "text",
        k => k === filter(split(col("text"), " "), w => w =!= "")),
    )
    val frames = Map("docs" -> docs.persist(), "emb" -> emb.persist(),
      "embc" -> emb.withColumn("codes", codesOf).persist())
    val rows = frames.map { case (n, f) => n -> f.count().toDouble }

    // one job per frame counts each kernel's rows that break its property
    val broken: Map[String, String] = kernels.groupBy(_.frame).flatMap { case (frame, ks) =>
      try {
        val r = frames(frame).select(ks.map(kn =>
          count_if(!coalesce(kn.property(kn.timed), lit(false)))): _*).head()
        ks.indices.collect { case i if r.getLong(i) > 0 =>
          ks(i).name -> s"${r.getLong(i)} of ${rows(frame).toLong} rows break the property"
        }
      } catch {
        case e: Exception => ks.map(_.name -> s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    def noopWrite(df: DataFrame): Double = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
    val inputs = kernels.map(kn => s"${kn.frame}.${kn.base}").distinct
    val secs = (1 to Reps).map { _ =>
      inputs.map { in =>
        val Array(f, c) = in.split('.')
        in -> noopWrite(frames(f).select(c))
      }.toMap ++ kernels.filterNot(kn => broken.contains(kn.name))
        .map(kn => kn.name -> noopWrite(frames(kn.frame).select(kn.timed))).toMap
    }
    val out = kernels.map { kn =>
      val net = if (broken.contains(kn.name)) 0.0
        else median(secs.map(_(kn.name))) - median(secs.map(_(s"${kn.frame}.${kn.base}")))
      (kn.name, net * 1e9 / rows(kn.frame), broken.get(kn.name))
    }
    frames.values.foreach(_.unpersist(blocking = true))
    out
  }
}
