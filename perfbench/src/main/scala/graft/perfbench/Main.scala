package graft.perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark JVM entry point (driven by perfbench/run.py):
  *
  * {{{
  * Main --workload <crawl_incremental|operator_queries>
  *      --seed <n> --seconds <s> --trace <0|1> --work <dir> --out <file>
  *      [--tables <dir of the reference tables>]
  * }}}
  *
  * One session at `local[nproc]` with `spark.sql.shuffle.partitions = nproc`.
  * Writes the raw report (set-up samples, timed operations, checks,
  * deterministic counts, every job and stage the listener saw) to `--out`;
  * run.py turns it into metrics. */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val secondsBudget = args("seconds").toDouble
    val traced = args("trace") == "1"
    val work = Paths.get(args("work")).toAbsolutePath
    Files.createDirectories(work)

    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    def phase(what: String): Unit =
      System.err.println(f"[perfbench] $what at ${(System.currentTimeMillis() - jvmStart) / 1e3}%.1f s")
    val nproc = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracker = new Tracker
    spark.sparkContext.addSparkListener(tracker)
    val h = new Harness(spark, tracker, work)
    phase("session ready")
    val w = new Workloads(h, seed, secondsBudget, traced, args.get("tables"))

    val failure =
      try {
        workload match {
          case "crawl_incremental" => w.crawlIncremental()
          case "operator_queries" => w.operatorQueries()
          case other => throw new IllegalArgumentException(s"unknown workload $other")
        }
        if (traced && workload != "operator_queries") w.queryProbes()
        None
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          Some(e.toString)
      }

    phase("workload done")
    val conf = spark.conf
    val stamp = Map(
      "nproc" -> nproc,
      "master" -> spark.sparkContext.master,
      "shuffle_partitions" -> conf.get("spark.sql.shuffle.partitions").toInt,
      "driver_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "spark" -> spark.version,
      "scala" -> scala.util.Properties.versionNumberString)
    val oracles = graft.SparkEntry.oracleSql.filter { case (k, _) => Workloads.QuerySet.contains(k) }
    Files.writeString(Paths.get(args("out")), h.report(stamp, Map(
      "workload" -> workload, "seed" -> seed, "trace" -> traced, "error" -> failure,
      "relational_queries" -> Workloads.RelationalQueries,
      "curation_queries" -> Workloads.CurationQueries,
      "oracle_sql" -> oracles)))
    phase("report written")
    spark.stop()
    phase("session stopped")
    if (failure.isDefined) sys.exit(1)
  }
}
