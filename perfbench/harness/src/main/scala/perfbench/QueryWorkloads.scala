package perfbench

import scala.collection.mutable.ArrayBuffer

import graft.operators.{Dedup, PathIndexOps, Similarity, Sketches, TextAnalysis}
import graft.sources.{IndexCache, TextIndex}
import org.apache.spark.sql.DataFrame

/** Brings a lake snapshot online, then serves it. The first round of
  * the query set builds the cached index structures; it is set-up, and
  * warms the JIT too. Then a closed loop with one client runs rounds of
  * the set in seeded random order.
  *
  * Inputs: the lake snapshot `lake`.
  */
final class SearchServe(r: Run) extends Phase {
  import r.{spark, tracer}
  val classes: Seq[(String, Seq[String])] = Seq(
    "probe" -> Seq("deleted_paths", "list_paths_delta", "upsert_paths_metrics", "search_suggest"),
    "text" -> Seq("search_score_bm25", "search_ismatch", "search_phrase", "search_fuzzy",
      "search_facets"),
    "hybrid" -> Seq("search_multiquery"))
  private val keys = classes.flatMap(_._2)
  private val classOf = classes.flatMap { case (c, ks) => ks.map(_ -> c) }.toMap
  private val main = s"${r.inputs}/lake"

  /** The cached index kinds the query set probes, each built through
    * its public function (traced runs only, before the first round).
    */
  private val builders: Seq[(String, () => AnyRef)] = Seq(
    "path_states" -> (() => PathIndexOps.pathStates(spark, main)),
    "text_postings_ws" -> (() => TextIndex.postingsWs(spark, main)),
    "text_vocab_ws" -> (() => TextIndex.vocabWs(spark, main)),
    "text_postings_std" -> (() => TextIndex.postingsStd(spark, main)),
    "text_vocab_std" -> (() => TextIndex.vocabStd(spark, main)),
    "text_doclens_std" -> (() => TextIndex.docLensStd(spark, main)),
    "text_stats_std" -> (() => TextIndex.statsStd(spark, main)),
    "text_postings_ws_disk" -> (() => TextIndex.postingsWsPersisted(spark, main)),
    "text_vocab_ws_disk" -> (() => TextIndex.vocabWsPersisted(spark, main)),
    "text_postings_std_disk" -> (() => TextIndex.postingsStdPersisted(spark, main)),
    "text_postings_pos_std_disk" -> (() => TextIndex.postingsPosStdPersisted(spark, main)))

  private val lat = ArrayBuffer.empty[(String, Double)]
  private val roundMs = ArrayBuffer.empty[Double]
  private val last = scala.collection.mutable.LinkedHashMap.empty[String, DataFrame]
  private var buildMs = 0.0

  private def round(dir: String, order: Seq[String], record: Boolean): Double = {
    val t0 = System.nanoTime()
    tracer.span("round") {
      order.foreach { k =>
        val (res, ms) = r.op(s"Search.query.${classOf(k)}") { r.runKey(k, dir) }
        res.foreach { case (df, _) => last(k) = df }
        if (record) lat += ((k, ms))
      }
    }
    (System.nanoTime() - t0) / 1e6
  }

  def warmUp(): Unit = {
    val t0 = System.nanoTime()
    tracer.span("build") {
      if (tracer.enabled) builders.foreach { case (kind, f) => tracer.span(s"IndexCache.build.$kind")(f()) }
      round(main, keys, record = false)
    }
    buildMs = (System.nanoTime() - t0) / 1e6
  }

  def timed(): Unit = {
    val rng = new scala.util.Random(r.seed)
    val t1 = System.nanoTime()
    tracer.span("serve") {
      (0 until r.work).foreach(_ => roundMs += round(main, rng.shuffle(keys), record = true))
    }
    val serveS = (System.nanoTime() - t1) / 1e9
    def cls(c: String) = lat.filter(x => classOf(x._1) == c).map(_._2).toSeq
    r.detail ++= Seq("index_build_s" -> buildMs / 1e3, "queries_per_s" -> lat.size / serveS,
      "round_p50_ms" -> Stats.median(opMs), "rounds" -> roundMs.size, "queries" -> lat.size)
    classes.foreach { case (c, _) =>
      r.detail(s"${c}_p50_ms") = Stats.median(cls(c))
      r.detail(s"${c}_p90_ms") = Stats.quantile(cls(c), 0.9)
      r.detail(s"${c}_samples") = cls(c).size
    }
  }

  def opMs: Seq[Double] = roundMs.toSeq

  /** Queries served. */
  def work: Double = lat.size.toDouble

  def layers(): Unit = {
    val serve = tracer.named("serve").head
    val inServe = tracer.subtree(serve).toSet
    builders.foreach { case (kind, _) =>
      r.layers(s"IndexCache.build_ms.$kind") = tracer.named(s"IndexCache.build.$kind").map(_.ms).sum
    }
    val build = tracer.named("build").head
    val bw = tracer.work(build)
    r.layers("IndexCache.build_jobs") = bw.jobs.toDouble
    r.layers("IndexCache.build_ms.total") = build.ms
    r.layers("IndexCache.cached_bytes") = CacheBytes.of(spark)
    classes.foreach { case (c, _) =>
      val qs = tracer.named(s"Search.query.$c").filter(inServe)
      def step(n: String) = Stats.mean(qs.map(q => tracer.kids(q.id).filter(_.name == n).map(_.ms).sum))
      val ws = qs.map(tracer.work)
      r.layers ++= Seq(
        s"Search.construct_ms.$c" -> step("construct"), s"Search.plan_ms.$c" -> step("plan"),
        s"Search.exec_ms.$c" -> step("exec"),
        s"Search.jobs_per_query.$c" -> Stats.mean(ws.map(_.jobs.toDouble)),
        s"Search.tasks_per_query.$c" -> Stats.mean(ws.map(_.tasks.toDouble)))
    }
  }

  def outputs(): Unit = r.oracleResults ++= last
}

/** Passes of the curation operators over one snapshot, each pass cold:
  * the index cache is dropped before it, so every pass rebuilds what it
  * stages. One pass during set-up warms the JIT.
  */
final class CurationBatch(r: Run) extends Phase {
  import r.{spark, tracer}
  val keys: Seq[String] = Seq("dedup_minhash_lsh", "pii_scrub", "embed_pca", "text_heavy_hitters")
  private val modules: Seq[(String, Map[String, _])] = Seq(
    "Dedup" -> Dedup.queries, "TextAnalysis" -> TextAnalysis.queries,
    "Similarity" -> Similarity.queries, "Sketches" -> Sketches.queries)
  private val moduleOf = keys.map(k => k -> modules.find(_._2.contains(k)).map(_._1).getOrElse("other")).toMap
  private val main = s"${r.inputs}/lake"
  private val passMs = ArrayBuffer.empty[Double]
  private val last = scala.collection.mutable.LinkedHashMap.empty[String, DataFrame]

  private def pass(dir: String): Double = {
    IndexCache.invalidate()
    val t0 = System.nanoTime()
    tracer.span("pass") {
      keys.foreach { k =>
        val (res, _) = r.op(s"${moduleOf(k)}.key") { r.runKey(k, dir) }
        res.foreach { case (df, _) => last(k) = df }
      }
    }
    (System.nanoTime() - t0) / 1e6
  }

  def warmUp(): Unit = pass(main)

  def timed(): Unit = {
    passMs += pass(main)
    r.detail ++= Seq("pass_s" -> Stats.median(opMs) / 1e3, "passes" -> passMs.size)
  }

  def opMs: Seq[Double] = passMs.toSeq

  /** Curation calls made. */
  def work: Double = (keys.size * passMs.size).toDouble

  def layers(): Unit = {
    val timed = tracer.subtree(tracer.named("timed").head).toSet
    val passes = tracer.named("pass").filter(timed)
    val n = math.max(1, passes.size).toDouble
    val calls = passes.flatMap(p => tracer.kids(p.id))
    def step(s: String) = calls.flatMap(c => tracer.kids(c.id)).filter(_.name == s).map(_.ms).sum / n
    val ws = passes.map(tracer.work)
    r.layers ++= Seq(
      "curation.construct_ms" -> step("construct"), "curation.plan_ms" -> step("plan"),
      "curation.exec_ms" -> step("exec"),
      "curation.jobs_per_pass" -> Stats.mean(ws.map(_.jobs.toDouble)),
      "curation.shuffle_bytes_per_pass" -> Stats.mean(ws.map(_.shuffleWrite.toDouble)),
      "curation.spill_bytes_per_pass" -> Stats.mean(ws.map(_.spill.toDouble)))
    modules.foreach { case (m, _) =>
      r.layers(s"$m.ms") = calls.filter(_.name == s"$m.key").map(_.ms).sum / n
    }
  }

  def outputs(): Unit = r.oracleResults ++= last
}

/** Bytes of the blocks the session holds in storage memory and on disk:
  * the index cache stages its frames as checkpointed blocks.
  */
object CacheBytes {
  def of(spark: org.apache.spark.sql.SparkSession): Double = {
    val st = spark.sparkContext.getExecutorMemoryStatus
    st.values.map { case (max, free) => (max - free).toDouble }.sum
  }
}
