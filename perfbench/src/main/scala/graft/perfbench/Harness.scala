package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.schema.FrontierEntry
import graft.seen.UrlSeen
import graft.store.{Snapshot, TableStore}

/** Measurement plumbing shared by the workloads: closed-loop timed
  * operations, set-up samples, correctness checks and deterministic
  * counts, all collected into one raw report with every job and stage the
  * listener saw. */
final class Harness(val spark: SparkSession, val tracker: Tracker, val work: Path) {
  val setupS = mutable.ArrayBuffer.empty[Double]
  val ops = mutable.ArrayBuffer.empty[mutable.LinkedHashMap[String, Any]]
  val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
  val counts = mutable.LinkedHashMap.empty[String, Any]
  val info = mutable.LinkedHashMap.empty[String, Any]

  private def sc = spark.sparkContext

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** One set-up repetition: its wall time is a `setup_s` sample. */
  def setup[A](f: => A): A = {
    val t0 = System.nanoTime()
    val r = f
    setupS += seconds(t0)
    r
  }

  /** One timed operation. Jobs it runs carry its id (local property
    * `perfbench.op`), so shuffle bytes and spans attribute exactly; the
    * listener bus is drained on both sides so the cache peak (bytes held by
    * persisted datasets above what was held when it started) is its own.
    * Returns the operation's record (with `ok`) and the body's value. */
  def op[A](kind: String, name: String)(f: => A): (mutable.LinkedHashMap[String, Any], Option[A]) = {
    val id = ops.size
    PerfbenchBus.drain(sc)
    val cachedBefore = tracker.resetPeak()
    sc.setLocalProperty("perfbench.op", id.toString)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val r =
      try Some(f)
      catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] $kind $name failed: $e")
          e.printStackTrace()
          None
      }
      finally sc.setLocalProperty("perfbench.op", null)
    val wall = seconds(t0)
    val endMs = System.currentTimeMillis()
    PerfbenchBus.drain(sc)
    val rec = mutable.LinkedHashMap[String, Any](
      "id" -> id, "kind" -> kind, "name" -> name, "start_ms" -> startMs, "end_ms" -> endMs,
      "wall_s" -> wall, "ok" -> r.isDefined, "cache_before_bytes" -> cachedBefore,
      "cache_peak_bytes" -> (tracker.peakBytes - cachedBefore))
    ops += rec
    (rec, r)
  }

  /** A correctness check, run outside any timed region. An exception is a
    * failed check. */
  def check(name: String)(f: => (Boolean, String)): Unit = {
    val (ok, detail) =
      try f
      catch { case e: Throwable => (false, s"exception: $e") }
    if (!ok) System.err.println(s"[perfbench] check $name FAILED: $detail")
    checks += Map("name" -> name, "ok" -> ok, "detail" -> detail)
  }

  def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  /** Bytes of the table data under a store root: parquet files and blobs.
    * Pointer and metadata files are left out (they carry commit times and
    * absolute paths). */
  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter { f =>
        val n = f.getFileName.toString
        Files.isRegularFile(f) && (n.endsWith(".parquet") || n.endsWith(".bin"))
      }.mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally s.close()
    }

  // ---- crawl-state checks and digests (outside timed regions) ----

  /** Order-independent digest of a frontier snapshot: row count, sum and xor
    * of a per-row hash over every column. */
  def frontierDigest(store: TableStore): String = {
    val f = store.load(spark, "frontier").get
    val h = xxhash64(f.columns.toIndexedSeq.map {
      case "metadata" => array_sort(map_entries(col("metadata")))
      case c => col(c)
    }: _*)
    val r = f.agg(count(lit(1)), sum(pmod(h, lit(1000000007L))), bit_xor(h)).head()
    s"${r.getLong(0)}:${r.getLong(1)}:${r.getLong(2)}"
  }

  /** Committed-state invariants after a round: url_hash unique in the
    * frontier, no bloom false negative over it, at most `maxPerHost`
    * fetched rows per host. */
  def crawlInvariants(label: String, store: TableStore, maxPerHost: Int): Unit = {
    val f = store.load(spark, "frontier").get
    check(s"$label.url_hash_unique") {
      val dups = f.groupBy("url_hash").count().filter(col("count") > 1).count()
      (dups == 0, s"$dups duplicated url_hash values")
    }
    check(s"$label.bloom_no_false_negative") {
      val snap = store.current("seen_bloom").get
      val sf = UrlSeen.fromBytes(spark, store.loadBlob("seen_bloom").get)
      val missing =
        try f.filter(!UrlSeen.mightContainCol(spark, sf, col("url_hash"))).count()
        finally releaseSeen(s"check:${snap.path}", snap, sf)
      (missing == 0, s"$missing frontier hashes missing from the committed bloom")
    }
    check(s"$label.per_host_cap") {
      val fetched = store.load(spark, "fetched").get
      val worst = fetched.groupBy("host").count().agg(max("count")).head()
      val m = if (worst.isNullAt(0)) 0L else worst.getLong(0)
      (m <= maxPerHost, s"max fetched rows per host $m (cap $maxPerHost)")
    }
  }

  /** Frontier hashes absent from a bloom blob (the round's bloom misses). */
  def bloomMisses(frontier: Dataset[FrontierEntry], blob: Array[Byte]): Long = {
    val sf = UrlSeen.fromBytes(spark, blob)
    val snap = Snapshot("seen_bloom", 0, "blob-" + System.nanoTime(), 0L)
    try frontier.toDF().filter(!UrlSeen.mightContainCol(spark, sf, col("url_hash"))).count()
    finally releaseSeen(snap.path, snap, sf)
  }

  /** Destroy a seen set's broadcasts through the session cache's owner API. */
  def releaseSeen(key: String, snap: Snapshot, sf: UrlSeen.SeenSet): Unit = {
    UrlSeen.cacheFor(key, snap.path, snap.committedAtMs, sf)
    UrlSeen.invalidate(key)
  }

  def report(stamp: Map[String, Any], extra: Map[String, Any]): String = {
    PerfbenchBus.drain(sc)
    val (jobRecs, stageRecs) = tracker.snapshot
    val jobs = jobRecs.map(j => Map(
      "id" -> j.jobId, "op" -> j.op, "desc" -> j.desc, "start_ms" -> j.startMs,
      "end_ms" -> j.endMs, "ok" -> j.ok))
    val stages = stageRecs.map(s => Map(
      "id" -> s.stageId, "attempt" -> s.attempt, "job" -> s.jobId, "name" -> s.name,
      "submit_ms" -> s.submitMs, "complete_ms" -> s.completeMs, "cpu_s" -> s.cpuNs / 1e9,
      "gc_s" -> s.gcMs / 1e3, "run_s" -> s.runMs / 1e3,
      "shuffle_write_bytes" -> s.shuffleWriteBytes,
      "shuffle_write_records" -> s.shuffleWriteRecords, "spill_bytes" -> s.spillBytes,
      "failed" -> s.failed))
    new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(Map(
      "stamp" -> stamp, "setup_s" -> setupS, "ops" -> ops, "checks" -> checks,
      "counts" -> counts, "info" -> info, "jobs" -> jobs,
      "stages" -> stages) ++ extra)
  }
}

/** A [[TableStore]] that counts the commits made through it. */
final class CountingStore(val inner: TableStore) extends TableStore {
  @volatile var commits = 0
  override def root: String = inner.root
  override def commit(table: String, df: DataFrame, round: Int, tag: String,
                      allowRewind: Boolean): Snapshot = {
    commits += 1
    inner.commit(table, df, round, tag, allowRewind)
  }
  override def freshTag(table: String, round: Int, prefix: String): String =
    inner.freshTag(table, round, prefix)
  override def current(table: String): Option[Snapshot] = inner.current(table)
  override def load(spark: SparkSession, table: String): Option[DataFrame] = inner.load(spark, table)
  override def loadRound(spark: SparkSession, table: String, round: Int): Option[DataFrame] =
    inner.loadRound(spark, table, round)
  override def resetTo(table: String, round: Int): Unit = inner.resetTo(table, round)
  override def commitBlob(table: String, bytes: Array[Byte], round: Int,
                          allowRewind: Boolean): Snapshot = {
    commits += 1
    inner.commitBlob(table, bytes, round, allowRewind)
  }
  override def loadBlob(table: String): Option[Array[Byte]] = inner.loadBlob(table)
  override def appendMetrics(df: DataFrame, round: Int, stage: String): Unit =
    inner.appendMetrics(df, round, stage)
  override def metrics(spark: SparkSession): Option[DataFrame] = inner.metrics(spark)
}
