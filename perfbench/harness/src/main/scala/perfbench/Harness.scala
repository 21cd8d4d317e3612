package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.{SortExec, SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

import graft.{Graft, SparkEntry, Tables}

/** One benchmark run of one workload in one fresh JVM: set-up, a cold pass
  * over the workload's operations, then warm passes. Each operation is
  * timed with `collect()`, which yields every row and column in the
  * query's own order (a `count()` lets Catalyst drop the final sort).
  * Writes `result.json`, each operation's cold result as parquet and the
  * oracle SQL to `--out`; perfbench/run.py checks and summarises them.
  *
  * Usage: Harness --data DIR --out DIR --ops a,b,c --warm N --max-s S
  *   --cpus N --trace 0|1 --fresh-staging 0|1
  * (warm passes stop early only if the JVM has run for --max-s seconds) */
object Harness {
  def gcSeconds: Double = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum / 1e3

  def cpuSeconds: Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Live heap after a full collection: the class histogram of live
    * objects forces one, whatever collector flags the program runs with. */
  def liveHeapMb(): Double = {
    val out = java.lang.management.ManagementFactory.getPlatformMBeanServer.invoke(
      new javax.management.ObjectName("com.sun.management:type=DiagnosticCommand"),
      "gcClassHistogram", Array[AnyRef](Array.empty[String]),
      Array(classOf[Array[String]].getName)).toString
    val total = out.linesIterator.filter(_.trim.startsWith("Total")).toSeq.last
    total.trim.split("\\s+").last.toDouble / 1048576.0
  }

  /** Canonical digest of a result as a multiset of rows. */
  def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.map(_.toSeq.map(String.valueOf).mkString("\u0001")).sorted
      .foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString
  }

  /** Whether an executed plan, query stages included, sorts globally. */
  def hasGlobalSort(p: SparkPlan): Boolean = p match {
    case a: AdaptiveSparkPlanExec => hasGlobalSort(a.executedPlan)
    case s: QueryStageExec => hasGlobalSort(s.plan)
    case s: SortExec if s.global => true
    case _: TakeOrderedAndProjectExec => true
    case _ => p.children.exists(hasGlobalSort)
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val walk = Files.walk(p)
    try walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
    finally walk.close()
  }

  /** Write-once artifacts that Staging published under its directory. */
  def stagedArtifacts(dir: Path): Map[String, Long] = {
    val staged = ".*_v[0-9]+_[0-9a-f]{16}".r
    Files.list(dir).iterator().asScala.toSeq
      .filter(p => staged.matches(p.getFileName.toString)).map { p =>
        val walk = Files.walk(p)
        val bytes = try walk.iterator().asScala
          .filter(f => Files.isRegularFile(f, java.nio.file.LinkOption.NOFOLLOW_LINKS))
          .map(f => Files.size(f)).sum
        finally walk.close()
        p.getFileName.toString -> bytes
      }.toMap
  }

  final case class OpRun(wallS: Double, digest: String, error: String)
  final case class Pass(tag: String, wallS: Double, cpuS: Double, ops: Seq[(String, OpRun)],
      layers: Map[String, Double])

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val dataDir = opt("data")
    val out = Paths.get(opt("out"))
    val ops = opt("ops").split(',').toSeq
    val warm = opt("warm").toInt
    val maxS = opt("max-s").toDouble
    val cpus = opt("cpus").toInt
    val trace = opt("trace") == "1"
    val freshStaging = opt("fresh-staging") == "1"
    val stagingDir = Paths.get(sys.props("java.io.tmpdir"))
    val jvmStart = System.nanoTime()

    val catalog = SparkEntry.queries
    val unknown = ops.filterNot(catalog.contains)
    require(unknown.isEmpty, s"unknown operations: ${unknown.mkString(", ")}")

    val s0 = System.nanoTime()
    val spark = Graft.builder(s"local[$cpus]", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.periodicGC.interval", "1min")
      .config("spark.sql.warehouse.dir", out.resolve("warehouse").toString)
      .config("spark.local.dir", out.resolve("local").toString)
      .getOrCreate()
    val sessionS = (System.nanoTime() - s0) / 1e9
    spark.sparkContext.setLogLevel("ERROR")
    // untimed warm-up, the same one graft.Bench runs before its passes
    spark.range(1000000).selectExpr("sum(id * 2)", "count(distinct id % 100)").collect()
    val setupCpuS = cpuSeconds
    println("PERFBENCH_READY")
    System.out.flush()

    val layers = if (trace) Some(new Layers(spark)) else None
    val tablesLoadS = if (!trace) 0.0 else {
      val t0 = System.nanoTime()
      val t = Tables(spark, dataDir)
      Seq(t.region, t.nation, t.customer, t.supplier, t.part, t.orders, t.lineitem,
        t.events, t.documents, t.embeddings).foreach(_.schema)
      (System.nanoTime() - t0) / 1e9
    }

    val coldRows = mutable.LinkedHashMap[String, (Array[Row], org.apache.spark.sql.types.StructType)]()

    def runPass(tag: String): Pass = {
      if (freshStaging) Files.list(stagingDir).iterator().asScala.toSeq.foreach(deleteTree)
      val before = stagedArtifacts(stagingDir).keySet
      val snap0 = layers.map(_.snapshot())
      val p0 = System.nanoTime(); val pc0 = cpuSeconds
      val results = ops.map { name =>
        val t0 = System.nanoTime()
        val (rows, error) = try {
          val df = catalog(name)(spark, dataDir)
          val rows = df.collect()
          if (tag == "cold") coldRows(name) = (rows, df.schema)
          (rows, "")
        } catch {
          case e: Throwable => (Array.empty[Row],
            s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        }
        spark.catalog.clearCache()
        val run = OpRun((System.nanoTime() - t0) / 1e9,
          if (error.isEmpty) digest(rows) else "", error)
        name -> run
      }
      val wall = (System.nanoTime() - p0) / 1e9
      val cpu = cpuSeconds - pc0
      val layer = layers.map { l =>
        val staged = stagedArtifacts(stagingDir).filter { case (k, _) => !before(k) }
        l.delta(snap0.get, l.snapshot(), wall) ++ Map(
          "staging.artifacts" -> staged.size.toDouble,
          "staging.written_mb" -> staged.values.sum / 1048576.0)
      }.getOrElse(Map.empty)
      System.err.println(f"[perfbench] $tag pass: $wall%.2f s")
      Pass(tag, wall, cpu, results, layer)
    }

    val passes = mutable.ArrayBuffer(runPass("cold"))
    def elapsed = (System.nanoTime() - jvmStart) / 1e9
    while (passes.size <= warm && elapsed + passes.last.wallS < maxS)
      passes += runPass("warm")

    // the second reading, after the context cleaner has released what the
    // first collection left unreachable (broadcasts, shuffles)
    val heapFirstMb = liveHeapMb()
    Thread.sleep(500)
    val heapMb = liveHeapMb()
    val kernels = if (trace) Kernels.run(spark, dataDir) else Seq.empty

    // untimed, on every run: the timed action (`collect()`) keeps
    // q1_pricing_summary's final sort; the plan a `count()` would have
    // timed, for the README's comparison
    def keepsSort(df: org.apache.spark.sql.DataFrame): Boolean = {
      df.collect()
      hasGlobalSort(df.queryExecution.executedPlan)
    }
    val collectKeepsSort = keepsSort(catalog("q1_pricing_summary")(spark, dataDir))
    val countKeepsSort = keepsSort(catalog("q1_pricing_summary")(spark, dataDir).groupBy().count())

    // cold results for the oracle compare, written after all timing
    coldRows.foreach { case (name, (rows, schema)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(out.resolve("results").resolve(name).toString)
    }
    val oracle = ops.map(n => n -> SparkEntry.oracleSql.get(n))

    def q(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => " "; case c => c.toString
    } + "\""
    def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
    def obj(kv: Iterable[(String, String)]): String =
      kv.map { case (k, v) => q(k) + ":" + v }.mkString("{", ",", "}")
    val json = obj(Seq(
      "session_s" -> num(sessionS),
      "setup_cpu_s" -> num(setupCpuS),
      "heap_retained_mb" -> num(heapMb),
      "heap_first_mb" -> num(heapFirstMb),
      "process_cpu_s" -> num(cpuSeconds),
      "tables_load_s" -> num(tablesLoadS),
      "collect_keeps_sort" -> collectKeepsSort.toString,
      "count_keeps_sort" -> countKeepsSort.toString,
      "oracle" -> obj(oracle.map { case (n, s) => n -> s.map(q).getOrElse("null") }),
      "kernels" -> obj(kernels.map { case (n, ns, err) =>
        n -> obj(Seq("ns_per_row" -> num(ns), "error" -> err.map(q).getOrElse("null")))
      }),
      "passes" -> passes.map { p =>
        obj(Seq("tag" -> q(p.tag), "wall_s" -> num(p.wallS), "cpu_s" -> num(p.cpuS),
          "layers" -> obj(p.layers.map { case (k, v) => k -> num(v) }),
          "ops" -> obj(p.ops.map { case (n, r) => n -> obj(Seq(
            "wall_s" -> num(r.wallS), "digest" -> q(r.digest), "error" -> q(r.error))) })))
      }.mkString("[", ",", "]"),
    ))
    Files.writeString(out.resolve("result.json"), json)
    spark.stop()
  }
}
