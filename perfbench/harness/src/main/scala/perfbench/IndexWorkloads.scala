package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.functions.ODataFilter
import graft.operators.{Indexer, Search}
import graft.sources.{IndexStore, MergeResult}
import org.apache.spark.sql.functions.col

object Files2 {
  def lines(p: String): Seq[String] = Files.readAllLines(Paths.get(p)).asScala.toSeq.filter(_.nonEmpty)

  def bytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .filterNot(_.getFileName.toString.startsWith(".")).map(Files.size).sum
  }

  def versions(root: String): Seq[Long] =
    Files.list(Paths.get(root)).iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith("v=")).map(_.stripPrefix("v=").toLong).toSeq.sorted

  def copy(from: String, to: String): Unit = {
    val src = Paths.get(from)
    Files.walk(src).iterator().asScala.foreach { p =>
      val dst = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst) else Files.copy(p, dst)
    }
  }

  def write(path: String, text: String): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.writeString(Paths.get(path), text)
  }
}

/** IndexStore at size: merge-or-upload batches into a store partitioned
  * by filesystem, keyset pages over an OData filter after every merge,
  * tombstone batches, then optimize and compact.
  *
  * Inputs: `upsert/main/ops.tsv`, one op per line: `merge <file>
  * <filter> <rows>` or `delete <file> <rows>`.
  */
final class IndexUpsert(r: Run) extends Phase {
  import r.{spark, tracer}
  private val pageSize = 2000
  private val root = s"${r.out}/store"

  private val merges = ArrayBuffer.empty[(String, MergeResult, Double, Long)]
  private val deletes = ArrayBuffer.empty[(String, Long, Double)]
  private var rowsWritten = 0L
  private val pageMs = ArrayBuffer.empty[Double]
  private val pageSets = ArrayBuffer.empty[(String, Seq[Seq[String]])]
  private val compileUs = ArrayBuffer.empty[Double]
  private var optimizeMs, compactMs = 0.0
  private var versionsBefore, liveVersion = 0L
  private var liveBytes, liveRows = 0L

  private def replay(): IndexStore = {
    val s = new IndexStore(spark, root, "key", partitionCol = Some("filesystem"), seqCol = Some("seq"))
    Files2.lines(s"${r.inputs}/upsert/main/ops.tsv").map(_.split("\t")).foreach {
      case Array("merge", file, filter, rows) =>
        val batch = spark.read.parquet(file)
        val (res, ms) = r.op("IndexStore.mergeOrUpload") { s.mergeOrUpload(batch) }
        res.foreach(m => merges += ((file, m, ms, rows.toLong)))
        rowsWritten += rows.toLong
        pages(s, filter)
      case Array("delete", file, rows) =>
        val (n, ms) = r.op("IndexStore.deleteKeys") { s.deleteKeys(spark.read.parquet(file)) }
        n.foreach(d => deletes += ((file, d, ms)))
        rowsWritten += rows.toLong
    }
    s
  }

  /** Page through every row the filter selects, one timed fetch per page. */
  private def pages(s: IndexStore, filter: String): Unit = {
    val t0 = System.nanoTime()
    val pred = tracer.span("ODataFilter.compile") { ODataFilter.compile(filter) }
    compileUs += (System.nanoTime() - t0) / 1e3
    val it = Search.pagedByKey(s.read().get.filter(pred).select(col("key"), col("lastModified")),
      "key", pageSize)
    val got = ArrayBuffer.empty[Seq[String]]
    var more = true
    while (more) {
      val (page, ms) = r.op("Search.pagedByKey.page") { if (it.hasNext) it.next() else Nil }
      val keys = page.getOrElse(Nil).map(_.getString(0))
      pageMs += ms
      if (keys.isEmpty) more = false else got += keys
    }
    pageSets += ((filter, got.toSeq))
  }

  /** No warm-up of its own: the indexer's warm-up and its timed run,
    * which comes first, exercise the merge paths; the first page fetch,
    * delete and optimize pay their small cold cost in the timed part.
    */
  def warmUp(): Unit = ()

  def timed(): Unit = {
    val s = replay()
    // maintenance at the end: rewrite into fat files, then drop history
    versionsBefore = Files2.versions(root).size
    liveVersion = s.currentVersion.get
    liveBytes = Files2.bytes(s"$root/v=$liveVersion")
    Files2.copy(s"$root/v=$liveVersion", s"${r.out}/check/pre_optimize")
    val (n, oms) = r.op("IndexStore.optimize") { s.optimize() }
    optimizeMs = oms
    liveRows = n.getOrElse(0L)
    val (_, cms) = r.op("IndexStore.compact") { s.compact() }
    compactMs = cms
    liveVersion = s.currentVersion.get
    val mergeMs = opMs
    r.detail ++= Seq(
      "upsert_rows_per_s" -> merges.map(_._4).sum / (mergeMs.sum / 1e3),
      "upsert_p50_ms" -> Stats.median(mergeMs),
      "delete_p50_ms" -> Stats.median(deletes.map(_._3).toSeq),
      "page_p50_ms" -> Stats.median(pageMs.toSeq),
      "store_bytes_per_row" -> liveBytes.toDouble / math.max(1L, liveRows),
      "merges" -> merges.size, "deletes" -> deletes.size, "pages" -> pageMs.size,
      "live_rows" -> liveRows)
  }

  def opMs: Seq[Double] = merges.map(_._3).toSeq

  /** Batch rows and tombstones submitted. */
  def work: Double = rowsWritten.toDouble

  def layers(): Unit = {
    def spanMs(n: String) = tracer.named(n).map(_.ms)
    val mw = tracer.named("IndexStore.mergeOrUpload").map(tracer.work)
    val pw = tracer.named("Search.pagedByKey.page").map(tracer.work)
    val batchBytes = merges.map(m => Files.size(Paths.get(m._1))).sum
    r.layers ++= Seq(
      "IndexStore.merge_ms" -> Stats.mean(spanMs("IndexStore.mergeOrUpload")),
      "IndexStore.merge_jobs" -> Stats.mean(mw.map(_.jobs.toDouble)),
      "IndexStore.merge_shuffle_bytes" -> Stats.mean(mw.map(_.shuffleWrite.toDouble)),
      "IndexStore.bytes_written_per_batch_byte" ->
        mw.map(_.outputBytes.toDouble).sum / math.max(1L, batchBytes),
      "IndexStore.delete_ms" -> Stats.mean(spanMs("IndexStore.deleteKeys")),
      "IndexStore.versions_on_disk" -> versionsBefore.toDouble,
      "IndexStore.bytes_per_live_row" -> liveBytes.toDouble / math.max(1L, liveRows),
      "IndexStore.optimize_ms" -> optimizeMs,
      "IndexStore.compact_ms" -> compactMs,
      "pagedByKey.page_ms" -> Stats.mean(spanMs("Search.pagedByKey.page")),
      "pagedByKey.input_bytes_per_page" -> Stats.mean(pw.map(_.inputBytes.toDouble)),
      "pagedByKey.jobs_per_page" -> Stats.mean(pw.map(_.jobs.toDouble)),
      "ODataFilter.compile_us" -> Stats.median(compileUs.toSeq))
  }

  def outputs(): Unit = {
    r.checks("upsert") = Map(
      "store" -> root,
      "pre_optimize" -> s"${r.out}/check/pre_optimize",
      "versions_after_compact" -> Files2.versions(root),
      "live_version" -> liveVersion,
      "optimize_rows" -> liveRows,
      "merges" -> merges.map { case (f, m, _, _) => Map("file" -> f, "created" -> m.created,
        "modified" -> m.modified, "failed" -> m.failed) }.toSeq,
      "deletes" -> deletes.map { case (f, n, _) => Map("file" -> f, "deleted" -> n) }.toSeq,
      "pages" -> pageSets.zipWithIndex.map { case ((filter, pages), i) =>
        val f = s"${r.out}/check/pages_$i.tsv"
        Files2.write(f, pages.map(_.mkString("\t")).mkString("", "\n", "\n"))
        Map("filter" -> filter, "file" -> f)
      }.toSeq)
  }
}

/** The reference's operating mode: `Indexer.runPartitioned` over a lake
  * snapshot, five partitions with their own watermarks, one store. The
  * generated lake's folders all fall under the five partition prefixes,
  * so the partitions are complete.
  *
  * Inputs: `schedule/warm_0` (warm-up, one partition) and the snapshots
  * listed in `schedule/snapshots.txt`, one `runPartitioned` each.
  */
final class IndexerSchedule(r: Run) extends Phase {
  import r.{spark, tracer}
  private val parts = 0 until 5
  private val root = s"${r.out}/schedule"
  private val ticks = ArrayBuffer.empty[(String, Map[Int, Indexer.IncrementalResult], Double)]

  def warmUp(): Unit =
    Indexer.runPartitioned(spark, s"${r.inputs}/schedule/warm_0",
      new IndexStore(spark, s"$root/warm/store", "key"), s"$root/warm/state", partitions = Seq(0))

  def timed(): Unit = {
    val s = new IndexStore(spark, s"$root/main/store", "key")
    Files2.lines(s"${r.inputs}/schedule/snapshots.txt").foreach { dir =>
      val (res, ms) = r.op("Indexer.runPartitioned") {
        Indexer.runPartitioned(spark, dir, s, s"$root/main/state", partitions = parts)
      }
      res.foreach(m => ticks += ((dir, m, ms)))
    }
    val events = Files2.lines(s"${r.inputs}/schedule/events.txt").head.toLong
    r.detail ++= Seq("tick_p50_ms" -> Stats.median(opMs),
      "indexed_events_per_s" -> events / (opMs.sum / 1e3), "ticks" -> ticks.size)
  }

  def opMs: Seq[Double] = ticks.map(_._3).toSeq

  /** Change-log events in the snapshots. */
  def work: Double = Files2.lines(s"${r.inputs}/schedule/events.txt").head.toDouble

  def layers(): Unit = {
    val spans = tracer.named("Indexer.runPartitioned")
    val ws = spans.map(tracer.work)
    val events = Files2.lines(s"${r.inputs}/schedule/events.txt").head.toLong
    r.layers ++= Seq(
      "Indexer.tick_ms" -> Stats.mean(spans.map(_.ms)),
      "Indexer.jobs_per_tick" -> Stats.mean(ws.map(_.jobs.toDouble)),
      "Indexer.tasks_per_tick" -> Stats.mean(ws.map(_.tasks.toDouble)),
      "Indexer.shuffle_bytes_per_tick" -> Stats.mean(ws.map(_.shuffleWrite.toDouble)),
      "Indexer.scanned_rows_per_indexed_event" -> ws.map(_.inputRows.toDouble).sum / events,
      "Indexer.driver_ms_per_tick" ->
        Stats.mean(spans.zip(ws).map { case (s, w) => s.ms - w.jobWallMs }))
  }

  def outputs(): Unit = {
    val s = new IndexStore(spark, s"$root/main/store", "key")
    // a second run on the last snapshot must find nothing new
    val rerun = Indexer.runPartitioned(spark, ticks.last._1, s, s"$root/main/state", partitions = parts)
    // the same snapshots through one unfiltered incremental run each
    val ref = new IndexStore(spark, s"$root/reference/store", "key")
    ticks.foreach { case (dir, _, _) => Indexer.runIncremental(spark, dir, ref, s"$root/reference/state") }
    def res(m: Map[Int, Indexer.IncrementalResult]) = m.toSeq.sortBy(_._1).map { case (p, x) =>
      Map("partition" -> p, "watermark" -> x.newWatermarkNs.toString,
        "read" -> x.metrics.readCount, "read_failed" -> x.metrics.readFailedCount,
        "processed" -> x.metrics.processedCount, "created" -> x.metrics.uploadCreatedCount,
        "modified" -> x.metrics.uploadModifiedCount, "upload_failed" -> x.metrics.uploadFailedCount,
        "too_large" -> x.metrics.uploadFailedTooLargeCount)
    }
    r.checks("schedule") = Map(
      "ticks" -> ticks.map { case (dir, m, _) => Map("dir" -> dir, "partitions" -> res(m)) }.toSeq,
      "rerun" -> res(rerun),
      "store" -> s"$root/main/store/v=${s.currentVersion.get}",
      "reference" -> s"$root/reference/store/v=${ref.currentVersion.get}")
  }
}
