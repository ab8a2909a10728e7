package graft.perfbench

import java.nio.file.Path

import graft.cli.CrawlRound
import graft.cli.CrawlRound.RoundStats
import graft.fetch.SyntheticFetcher
import graft.fixtures.{SyntheticWeb, WebConfig}
import graft.frontier.CrawlConfig
import graft.schema.FrontierEntry
import graft.seen.UrlSeen
import graft.store.{IcebergStore, SnapshotStore}

/** The workloads. Each runs its set-up several times, measures
  * for about `seconds` seconds in a closed loop (one operation at a time,
  * each issued after the previous one returns), and runs its correctness
  * checks outside the timed region. */
final class Workloads(h: Harness, seed: Long, secondsBudget: Double, traced: Boolean,
                      tables: Option[String]) {
  import Workloads._

  private val spark = h.spark
  private val nproc = spark.sparkContext.defaultParallelism

  private def crawlConfig(topN: Long, maxPerHost: Int) = CrawlConfig(
    topN = topN, maxPerHost = maxPerHost, numFetchPartitions = nproc,
    serverDelayMs = 5000, fetchLatencyMs = 50)

  private def roundFields(rec: collection.mutable.Map[String, Any], s: RoundStats): Unit = {
    rec ++= Seq("round" -> s.round, "generated" -> s.generated, "fetched" -> s.fetchedPages,
      "parsed" -> s.parsedDocs, "frontier" -> s.frontierSize, "unfetched" -> s.frontierUnfetched,
      "virtual_ms_max" -> s.virtualMsMax, "stage_ms" -> s.stageMs)
  }

  private def countsOf(s: RoundStats): String =
    Seq(s.generated, s.fetchedPages, s.parsedDocs, s.frontierSize, s.frontierUnfetched).mkString("/")

  // ----------------------------------------------------------- incremental

  /** A fresh Iceberg-layout store with the seeds injected, then
    * [[incRounds]] consecutive small rounds. The last round is then rolled
    * back (every table's pointer reset to the previous round, the previous
    * bloom blob re-committed), the session's seen-bloom cache is dropped,
    * the store is reopened and the round runs again as a resume; its
    * counts and frontier must equal the uninterrupted run's. */
  def crawlIncremental(): Unit = {
    import spark.implicits._
    val web = SyntheticWeb(WebConfig(nHosts = IncHosts, pagesPerHost = IncPages,
      hotFactor = 25, seed = seed))
    val cfg = crawlConfig(IncTopN, IncMaxPerHost)
    val fetcher = SyntheticFetcher(web, cfg.fetchLatencyMs)
    val rounds = incRounds(secondsBudget)
    h.info("rounds") = rounds
    val roots = (1 to IncSetupReps).map { i =>
      val root = h.work.resolve(s"inc-$i")
      h.setup {
        CrawlRound.inject(spark, new IcebergStore(root.toString), web.seedUrls.toDS(), cfg, StartTime)
      }
      root
    }
    roots.tail.foreach(h.delete)
    val root = roots.head
    def now(r: Int) = StartTime + (r - 1) * DayMs
    def round(store: CountingStore, r: Int, kind: String): Option[RoundStats] = {
      val before = h.dirBytes(root)
      val (rec, stats) = h.op(kind, s"r$r") { CrawlRound.run(spark, store, fetcher, cfg, r, now(r)) }
      stats.foreach { s =>
        roundFields(rec, s)
        rec("store_bytes") = h.dirBytes(root) - before
        rec("commits") = store.commits
      }
      store.commits = 0
      stats
    }

    val store = new CountingStore(new IcebergStore(root.toString))
    (1 until rounds).foreach(r => round(store, r, "round"))
    val prevBlob = store.loadBlob("seen_bloom").get
    val last = round(store, rounds, "round")
    val straight = h.frontierDigest(store)

    // roll back to the previous round and resume in a reopened store
    RolledBackTables.foreach(t => store.resetTo(t, rounds - 1))
    store.commitBlob("seen_bloom", prevBlob, rounds - 1, allowRewind = true)
    UrlSeen.invalidate(root.toString)
    val reopened = new CountingStore(new IcebergStore(root.toString))
    val resumed = round(reopened, rounds, "resume")
    val resumedDigest = h.frontierDigest(reopened)
    h.check("incremental.resume_counts_match_uninterrupted") {
      val a = last.map(countsOf).getOrElse("none")
      val b = resumed.map(countsOf).getOrElse("none")
      (a == b, s"uninterrupted $a resumed $b")
    }
    h.check("incremental.resume_frontier_matches_uninterrupted") {
      (straight == resumedDigest, s"uninterrupted $straight resumed $resumedDigest")
    }
    h.crawlInvariants("incremental", reopened, cfg.maxPerHost)
    h.counts("incremental.round_counts") = h.ops.filter(_("kind") == "round").map(o =>
      Seq("generated", "fetched", "parsed", "frontier", "unfetched").map(o(_)).mkString("/"))
      .mkString(",")
    h.counts("incremental.frontier_digest") = resumedDigest
    h.counts("incremental.bloom_misses") = h.bloomMisses(
      reopened.load(spark, "frontier").get.as[FrontierEntry], prevBlob)
    UrlSeen.invalidate(root.toString)
    if (traced)
      new Probes(h).crawl(reopened, cfg, fetcher, rounds + 1, now(rounds + 1),
        h.work.resolve("probe-store"))
  }

  // --------------------------------------------------------------- queries

  /** The operator query set over the engine's reference tables, in timed
    * passes (see [[runQueries]]). The tables are fixed; the seed only
    * permutes the query order of the warm passes. */
  def operatorQueries(): Unit = {
    val dir = tables.getOrElse(throw new IllegalArgumentException("--tables is required"))
    (1 to SetupReps).foreach { _ =>
      h.setup {
        graft.functions.GraftFunctions.register(spark)
        TableNames.foreach(t => spark.read.parquet(s"$dir/$t.parquet").count())
      }
    }
    runQueries(dir, warmPasses = true)
    if (traced) {
      // the crawl layers are probed on a small fixture crawl so every
      // traced run reports every layer
      val web = SyntheticWeb(WebConfig(nHosts = FixtureHosts, pagesPerHost = FixturePages,
        hotFactor = 25, seed = seed))
      val cfg = crawlConfig(FixtureTopN, FixtureMaxPerHost)
      val root = h.work.resolve("fixture")
      val store = new CountingStore(new SnapshotStore(root.toString))
      CrawlRound.inject(spark, store, web.urls(spark), cfg, StartTime)
      store.commits = 0
      val (rec, stats) = h.op("fixture", "round1") {
        CrawlRound.run(spark, store, SyntheticFetcher(web, cfg.fetchLatencyMs),
          cfg.copy(topN = FixtureTopN / 4), 1, StartTime)
      }
      stats.foreach(roundFields(rec, _))
      rec("commits") = store.commits
      store.resetTo("frontier", 0)
      UrlSeen.invalidate(root.toString)
      new Probes(h).crawl(store, cfg, SyntheticFetcher(web, cfg.fetchLatencyMs), 1, StartTime,
        h.work.resolve("probe-store"))
    }
  }

  /** Query probes for the crawl workloads' traced runs: one call per query. */
  def queryProbes(): Unit = tables.foreach { dir =>
    graft.functions.GraftFunctions.register(spark)
    runQueries(dir, warmPasses = false)
  }

  /** Pass 0 is the cold pass: each query, in the fixed [[QuerySet]] order,
    * writes its result to parquet for the oracle check. Later passes, run
    * while `--seconds` last (and only when `warmPasses`), write each query
    * to a noop sink in an order permuted by the seed. Every pass is timed.
    * The cold pass keeps one order because its per-query times carry the
    * JIT's warm-up, which lands on whichever queries run first. */
  private def runQueries(dir: String, warmPasses: Boolean): Unit = {
    val qmap = graft.SparkEntry.queries
    val out = h.work.resolve("query-out")
    val warmOrder = new scala.util.Random(seed).shuffle(QuerySet)
    h.info("query_out") = out.toString
    h.info("warm_query_order") = warmOrder
    val t0 = System.nanoTime()
    var pass = 0
    while (pass < 1 || (warmPasses && h.seconds(t0) < secondsBudget && pass < MaxOps)) {
      (if (pass == 0) QuerySet else warmOrder).foreach { q =>
        val (rec, _) =
          if (pass == 0)
            h.op("cold", q) {
              qmap(q)(spark, dir).write.mode("overwrite").parquet(out.resolve(q).toString)
            }
          else h.op("query", q) { h.noop(qmap(q)(spark, dir)) }
        rec("pass") = pass
        spark.catalog.clearCache()
      }
      pass += 1
    }
  }
}

object Workloads {
  val StartTime = 1700000000000L
  val DayMs: Long = 24L * 3600 * 1000
  val SetupReps = 3
  // an inject of 300 seeds takes about a second once warm; five set-ups
  // keep the median clear of the JIT's work left over from the first
  val IncSetupReps = 5
  val MaxOps = 200

  // crawl_incremental: seeds only, small consecutive rounds
  val IncHosts = 300
  val IncPages = 100
  val IncTopN = 3000L
  val IncMaxPerHost = 50

  /** Consecutive rounds before the resume, sized to fill about `seconds`. */
  def incRounds(seconds: Double): Int = math.max(2, math.min(12, math.round(seconds / 5).toInt))
  val RolledBackTables: Seq[String] = Seq("frontier", "fetched", "parsed", "host_stats")

  // crawl layer probes in the operator_queries traced run
  val FixtureHosts = 60
  val FixturePages = 50
  val FixtureTopN = 4000L
  val FixtureMaxPerHost = 500

  val RelationalQueries: Seq[String] = Seq(
    "q_score_quantiles", "q_link_invert", "q_opic_distribute", "q_state_transition",
    "q_segment_merge")
  val CurationQueries: Seq[String] = Seq(
    "q_minhash_lsh", "q_ngram_jaccard", "q_neardup_clusters", "q_jaccard_pairs",
    "q_ann_ivf_topk", "q_repetition", "q_parse_html", "q_media_decode")
  val QuerySet: Seq[String] = RelationalQueries ++ CurationQueries

  val TableNames: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")
}
