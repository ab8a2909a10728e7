package graft.perfbench

import java.nio.file.Path

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.fetch.{FetchPartitionMetrics, Fetcher, PolitenessExecutor}
import graft.frontier.{CrawlConfig, Dedup, HostDb, UpdateDbColumnar}
import graft.generate.Generator
import graft.parse.Parse
import graft.schema.{FrontierEntry, FrontierUpdate, HostStats}
import graft.seen.UrlSeen
import graft.store.{SnapshotStore, TableStore}

/** Layer probes for traced runs: each crawl layer's public entry point is
  * called once on a snapshot's inputs, wired the way `CrawlRound.run` wires
  * them, one call at a time. Every probe materializes its output (persist +
  * count, or a noop write), so a probe operation's time is that layer's own
  * work and the next layer starts from cached input. */
final class Probes(h: Harness) {
  private val spark = h.spark
  import spark.implicits._

  private def persist[A](d: Dataset[A]) = d.persist(StorageLevel.MEMORY_AND_DISK)

  def crawl(store: TableStore, cfg0: CrawlConfig, fetcher: Fetcher, round: Int, now: Long,
            probeRoot: Path): Unit = {
    val cfg = cfg0.copy(fetchMultiDoc = fetcher.multiDoc)
    val frontier = persist(store.load(spark, "frontier").get.as[FrontierEntry])
    frontier.count()
    val prevHostStats = store.load(spark, "host_stats")
    val hostSalt = prevHostStats.map(df => HostDb.hotHostSalt(df.as[HostStats],
      hotThreshold = math.max(cfg.maxPerHost.toLong * 4, cfg.topN / math.max(1, cfg.numFetchPartitions)),
      perPartitionTarget = math.max(1L, cfg.topN / math.max(1, cfg.numFetchPartitions))))
      .getOrElse(Map.empty)

    val fetchlist = persist(Generator.generate(frontier, cfg, now, round, hostSalt)._1)
    val (gen, genRows) = h.op("probe", "generate") { fetchlist.count() }
    gen("rows") = genRows.getOrElse(0L)

    val acc = spark.sparkContext.collectionAccumulator[FetchPartitionMetrics]("probe_fetch")
    val pages = persist(fetchlist.mapPartitions { it =>
      PolitenessExecutor.run(org.apache.spark.TaskContext.getPartitionId(), it, fetcher, cfg,
        now, round, acc.add(_))
    })
    val (fetch, _) = h.op("probe", "fetch") { pages.count() }
    val fm = acc.value.asScala.toSeq
    fetch("input_rows") = fm.map(_.input_rows).sum
    fetch("fetched") = fm.map(_.fetched).sum
    fetch("robots_denied") = fm.map(_.robots_denied).sum
    fetch("virtual_ms_max") = if (fm.isEmpty) 0L else fm.map(_.virtual_ms).max

    val caches = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var linked: Dataset[FrontierUpdate] = null
    var updates: Dataset[FrontierUpdate] = null
    var links = 0L
    val (parse, _) = h.op("probe", "parse") {
      h.noop(Parse.parsedDocs(pages).toDF())
      linked = persist(Parse.linkedUpdates(pages, cfg, round, None, caches += _))
      updates = persist(Parse.fetchUpdates(pages, cfg))
      links = linked.count()
      updates.count()
    }
    parse("links_out") = links

    val seenSnap = store.current("seen_bloom").get
    val seen = UrlSeen.fromBytes(spark, store.loadBlob("seen_bloom").get)
    var merged: Dataset[FrontierEntry] = null
    val (udb, _) = h.op("probe", "updatedb") {
      merged = persist(UpdateDbColumnar.run(frontier, updates, linked, cfg, now, Some(seen)))
      merged.count()
    }
    udb("rows") = merged.count()

    var deduped: Dataset[FrontierEntry] = null
    h.op("probe", "dedup") {
      deduped = persist(Dedup.markDuplicates(merged))
      deduped.count()
    }

    val out = new CountingStore(new SnapshotStore(probeRoot.toString))
    val (commit, _) = h.op("probe", "store_commit") {
      out.commit("frontier", deduped.toDF(), round)
    }
    commit("bytes_written") = h.dirBytes(probeRoot)
    commit("commits") = out.commits
    h.op("probe", "store_load") { out.load(spark, "frontier").get.count() }

    h.op("probe", "hostdb") {
      h.noop(HostDb.fromFrontier(out.load(spark, "frontier").get.as[FrontierEntry], now,
        Some(pages.toDF()), prev = prevHostStats).toDF())
    }

    var blob: Array[Byte] = null
    var misses = 0L
    val (seenOp, _) = h.op("probe", "seen_merge") {
      val newHashes = persist(merged.toDF()
        .filter(!UrlSeen.mightContainCol(spark, seen, col("url_hash")))
        .select(col("url_hash")))
      misses = newHashes.count()
      val m = UrlSeen.merged(spark, seen, newHashes, 0L)
      blob = UrlSeen.toBytes(m)
      newHashes.unpersist()
      if (m ne seen) h.releaseSeen(s"probe-merged:${seenSnap.path}", seenSnap, m)
    }
    seenOp("misses") = misses
    seenOp("merged_rows") = udb("rows")
    seenOp("blob_bytes") = if (blob == null) 0 else blob.length
    h.releaseSeen(s"probe:${seenSnap.path}", seenSnap, seen)

    Seq(frontier, fetchlist, pages, linked, updates, merged, deduped).foreach(d =>
      if (d != null) d.unpersist())
    caches.foreach(_.unpersist())
  }
}
