package searchbench

import scala.collection.mutable
import graft.{Graft, GraftIndex}
import graft.index.{IndexConfig, SpaceUsage}
import graft.query.Searcher

object Stats {
  /** Linear-interpolation quantile (numpy's default); 0 for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length
}

/** One timed operation of a workload's measured phase. */
final case class Sample(op: String, ms: Double, traced: Boolean)

/** Shared pieces of the workloads. */
object Common {

  /** Set-ups per run; `setup_s` is their median. A set-up takes about
    * half a second, so five keep one slow one from moving the median.
    */
  val SetupReps = 5

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Run `SetupReps` set-ups and keep the last one's result. Each starts
    * with Spark's cache empty: a new searcher's cached termdict and stats
    * have the same plans as the previous searcher's, so Spark would reuse
    * their data and only the first set-up would be a cold open. In traced
    * runs set-ups alternate traced and untraced. Returns (result,
    * per-set-up seconds, traced flags).
    */
  def setups[A](env: Env)(unit: => A): (A, Seq[Double], Seq[Boolean]) = {
    var last: Option[A] = None
    val runs = (0 until SetupReps).map { r =>
      env.tracer.active = r % 2 == 0
      env.spark.catalog.clearCache()
      val t0 = System.nanoTime()
      last = Some(env.tracer.span("setup", env.tracer.newRequest())(unit))
      val s = seconds(t0)
      env.log(f"set-up $r: $s%.2f s")
      (s, env.trace && r % 2 == 0)
    }
    env.tracer.active = env.trace
    (last.get, runs.map(_._1), runs.map(_._2))
  }

  /** A workload's set-up: open a searcher on the index and load
    * the df of every query term (the termdict cache and the df cache).
    */
  def openSearcher(env: Env, idx: GraftIndex, terms: Seq[String]): Searcher = {
    val sr = env.tracer.span("open")(idx.searcher)
    env.tracer.span("weights")(sr.weightsFor(terms))
    sr
  }

  /** Reference answers for a query set, computed on `cores` threads. */
  def references(env: Env, sr: Searcher, queries: Seq[BenchQuery]): Seq[Answer] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(env.cores)
    try {
      val futures = queries.map(q => pool.submit(() => Queries.reference(sr, q)))
      futures.map(_.get())
    } finally pool.shutdown()
  }

  /** Untimed closed-loop queries for `WarmUpSeconds`, at least one full
    * pass, so the first timed queries do not pay class loading and the
    * first compilation of every fast path.
    */
  def warmUp(env: Env, sr: Searcher, queries: Seq[BenchQuery]): Unit = {
    val rng = new scala.util.Random(env.seed)
    val deadline = System.nanoTime() + WarmUpSeconds * 1000000000L
    var passes = 0
    while (passes == 0 || System.nanoTime() < deadline) {
      rng.shuffle(queries).foreach(q => Queries.run(sr, q.parse(), q.cmd))
      passes += 1
    }
  }
  val WarmUpSeconds = 5

  def timedBuild[A](env: Env, what: String)(body: => A): A = {
    val t0 = System.nanoTime()
    val a = env.tracer.span("build")(body)
    env.log(f"$what: ${seconds(t0)}%.2f s")
    a
  }

  /** setup_s, and in traced runs the warm (r >= 1) traced-minus-untraced gap. */
  def reportSetup(report: Report, times: Seq[Double], traced: Seq[Boolean]): Unit = {
    report.e2e("setup_s", Stats.median(times), "s")
    val warm = times.zip(traced).drop(1)
    report.layer("overhead.setup_s",
      Stats.mean(warm.filter(_._2).map(_._1)) - Stats.mean(warm.filterNot(_._2).map(_._1)), "s")
  }

  /** op_p50_ms / op_p90_ms from untraced samples. The traced gap is
    * taken per operation kind (present both traced and untraced) and
    * averaged, so a different mix of kinds on the two sides does not count
    * as overhead.
    */
  def reportOps(env: Env, report: Report, samples: Seq[Sample]): Unit = {
    val (traced, plain) = samples.partition(_.traced)
    val p = plain.map(_.ms)
    report.e2e("op_p50_ms", Stats.median(p), "ms")
    report.e2e("op_p90_ms", Stats.quantile(p, 0.9), "ms")
    report.info("samples") = p.length.toString
    val half = p.length / 2
    env.log(f"untraced samples ${p.length}: p50 first half ${Stats.median(p.take(half))}%.1f ms, " +
      f"second half ${Stats.median(p.drop(half))}%.1f ms")
    plain.groupBy(_.op).toSeq.sortBy(_._1).foreach { case (op, xs) =>
      env.log(f"  $op%-12s n=${xs.length}%3d p50 ${Stats.median(xs.map(_.ms))}%9.1f ms")
    }
    val kinds = traced.map(_.op).distinct.filter(k => plain.exists(_.op == k))
    def gap(f: Seq[Double] => Double) = Stats.mean(kinds.map { k =>
      f(traced.filter(_.op == k).map(_.ms)) - f(plain.filter(_.op == k).map(_.ms)) })
    report.layer("overhead.op_p50_ms", gap(Stats.median), "ms")
    report.layer("overhead.op_p90_ms", gap(Stats.quantile(_, 0.9)), "ms")
  }

  def reportIndex(env: Env, report: Report, dir: String, inputBytes: Long): Unit = {
    val usage = SpaceUsage.of(env.spark, dir)
    report.e2e("index_bytes_per_input_byte", usage.totalBytes.toDouble / inputBytes, "ratio")
    Seq("postings", "docmap", "termdict", "stats").foreach { c =>
      report.layer(s"index.${c}_bytes", usage.component(c).map(_.bytes.toDouble).getOrElse(0.0), "bytes")
    }
  }

  /** Run one query call as three spans — parse, BM25 weights (the df
    * lookup), collector — and check its answer against `ref`. Returns the
    * call's milliseconds and its answer, None when it failed.
    */
  def query(env: Env, report: Report, sr: Searcher, q: BenchQuery, ref: Option[Answer],
            spanName: String = "query"): (Double, Option[Answer]) = {
    val tr = env.tracer
    val req = tr.newRequest()
    env.opOfRequest(req) = q.op
    val t0 = System.nanoTime()
    report.attempted += 1
    val ans =
      try Some(tr.span(spanName, req) {
        val parsed = tr.span("parse")(q.parse())
        tr.span("weights")(sr.weightsFor(Queries.scoredTerms(parsed)))
        tr.span("collect")(Queries.run(sr, parsed, q.cmd))
      })
      catch {
        case e: Exception =>
          report.failed += 1
          env.log(s"FAILED $q: $e")
          None
      }
    val ms = (System.nanoTime() - t0) / 1e6
    for (a <- ans; r <- ref if !a.sameAs(r)) {
      report.wrong += 1
      env.log(s"WRONG ANSWER $q: got $a, reference $r")
    }
    (ms, ans)
  }
}

/** `query_mix`: closed-loop queries, one client, against a warm
  * positions-on index built before set-up.
  */
object QueryWorkload {
  def run(env: Env, report: Report): Unit = {
    val n = 5000L
    val queries = Queries.mix(env.seed, n)
    queries.foreach(q => env.log(s"query $q"))
    env.log("session ready")
    val corpus = env.corpus(0, n)
    val inputBytes = env.contentBytes(corpus)
    env.log("corpus ready")
    report.info("corpus_docs") = n.toString
    report.info("corpus_bytes") = inputBytes.toString

    val allTerms = queries.flatMap(q => Queries.scoredTerms(q.parse())).distinct
    val idx = Common.timedBuild(env, "index build")(
      Graft.build(env.spark, corpus, env.dir("index"), IndexConfig()))
    val (sr, times, traced) = Common.setups(env)(Common.openSearcher(env, idx, allTerms))
    Common.reportSetup(report, times, traced)

    var t0 = System.nanoTime()
    val refs = Common.references(env, sr, queries)
    env.log(f"reference answers: ${Common.seconds(t0)}%.2f s")
    t0 = System.nanoTime()
    Common.warmUp(env, sr, queries)
    env.log(f"warm-up: ${Common.seconds(t0)}%.2f s")

    val rng = new java.util.Random(env.seed)
    val deadline = System.nanoTime() + env.seconds * 1000000000L
    val samples = mutable.ArrayBuffer.empty[Sample]
    while (System.nanoTime() < deadline) {
      val order = scala.util.Random.javaRandomToRandom(rng).shuffle(queries.indices.toList)
      for (i <- order if System.nanoTime() < deadline) {
        env.tracer.active = !env.trace || samples.length % 2 == 0
        val (ms, ans) = Common.query(env, report, sr, queries(i), Some(refs(i)))
        // a failed call's time is not a latency
        if (ans.isDefined) samples += Sample(queries(i).op, ms, env.tracer.active && env.trace)
      }
    }
    env.tracer.active = env.trace
    env.log(s"timed queries: ${samples.length}")
    Common.reportOps(env, report, samples.toSeq)
    Common.reportIndex(env, report, idx.dir, inputBytes)
    if (env.trace) {
      Layers.queryOps(env, report)
      Layers.build(env, report)
      val plain = samples.filterNot(_.traced)
      Seq("term", "disj", "topcount", "conj", "phrase").foreach { op =>
        report.layer(s"${op}_p50_ms", Stats.median(plain.filter(_.op == op).map(_.ms).toSeq), "ms")
      }
      report.layer("query_p50_ms", Stats.median(plain.map(_.ms).toSeq), "ms")
      report.layer("query_p90_ms", Stats.quantile(plain.map(_.ms).toSeq, 0.9), "ms")
    }
    env.finish(report, Seq(idx, sr))
  }
}

/** `ingest_refresh`: a writer loop. Each round appends a batch
  * (`GraftIndex.add`), opens a new searcher, answers one query per
  * fast-path shape and two general-path queries, then runs the default
  * merge policy (`compact`). When the policy merges, the same queries run
  * again and must answer as before.
  * A traced run traces every round: with one plain and one merging round
  * there is no like-for-like untraced round, so its `overhead.op_*` read 0.
  */
object IngestWorkload {
  def run(env: Env, report: Report): Unit = {
    val nBase = 2000L
    val batch = 1000L
    // three segments per commit: the default merge policy (8 segments per
    // level) merges at the second round
    val cfg = IndexConfig(numSegments = 3)
    val queries = Queries.refresh(env.seed, nBase)
    queries.foreach(q => env.log(s"query $q"))
    val allTerms = queries.flatMap(q => Queries.scoredTerms(q.parse())).distinct
    env.log("session ready")
    val base = env.corpus(0, nBase)
    env.log("corpus ready")
    val idx = Common.timedBuild(env, "base index build") {
      val idx = Graft.create(env.spark, env.dir("index"), cfg)
      idx.add(base)
      idx
    }
    val (sr0, times, traced) = Common.setups(env)(Common.openSearcher(env, idx, allTerms))
    Common.reportSetup(report, times, traced)
    queries.foreach(q => Queries.run(sr0, q.parse(), q.cmd)) // warm-up pass
    env.log("warm-up done")

    // batches are input tables, materialized outside the timed rounds
    val batches = mutable.ArrayBuffer.empty[org.apache.spark.sql.DataFrame]
    def batchOf(r: Int) = {
      while (batches.length <= r) batches += env.corpus(nBase + batches.length * batch, batch)
      batches(r)
    }
    (0 until 2).foreach(batchOf)
    env.log("batches ready")

    val samples = mutable.ArrayBuffer.empty[Sample]
    val appendMs = mutable.ArrayBuffer.empty[Double]
    val visibleMs = mutable.ArrayBuffer.empty[Double]
    val compactS = mutable.ArrayBuffer.empty[Double]
    val segsBefore = mutable.ArrayBuffer.empty[Double]
    // every searcher with its answers, checked against the general path
    // after the rounds; a merge pairs the answers before and after it
    val answered = mutable.ArrayBuffer.empty[(Searcher, Seq[Option[Answer]])]
    val merges = mutable.ArrayBuffer.empty[(Int, Int)]
    var committed = nBase
    var sr = sr0
    val tr = env.tracer
    // rounds run until the merge policy has merged once: a fixed cycle of
    // one plain and one merging round, longer than --seconds
    while (merges.isEmpty) {
      val r = samples.length
      val b = batchOf(r)
      val mergesBefore = merges.length
      val t0 = System.nanoTime()
      report.attempted += 1
      tr.span("round", tr.newRequest()) {
        tr.span("append")(idx.add(b))
        val tAdded = System.nanoTime()
        appendMs += (tAdded - t0) / 1e6
        committed += batch
        sr = tr.span("open")(idx.searcher)
        val rows = sr.indexMeta.map(_.totalRows).getOrElse(0L)
        if (rows != committed) { report.wrong += 1; env.log(s"WRONG: visible rows $rows != committed $committed") }
        val first = Common.query(env, report, sr, queries.head, None, "first_query")._2
        visibleMs += (System.nanoTime() - tAdded) / 1e6
        answered += ((sr, first +: queries.tail.map(q => Common.query(env, report, sr, q, None)._2)))
        // the writer runs the default merge policy after every commit
        val segs = idx.meta.segments.length
        val tc = System.nanoTime()
        val merged = tr.span("compact")(idx.compact())
        if (merged.segments.length < segs) {
          compactS += Common.seconds(tc)
          segsBefore += segs
          env.log(f"round $r: compacted $segs -> ${merged.segments.length} segments in ${compactS.last}%.2f s")
          sr = tr.span("open")(idx.searcher)
          merges += ((answered.length - 1, answered.length))
          answered += ((sr, queries.map(q => Common.query(env, report, sr, q, None)._2)))
        }
      }
      val kind = if (merges.length > mergesBefore) "merge_round" else "round"
      samples += Sample(kind, (System.nanoTime() - t0) / 1e6, env.trace)
    }
    env.log(s"rounds: ${samples.length}")
    answered.foreach { case (s, answers) => checkAnswers(env, report, queries, s, answers) }
    merges.foreach { case (pre, post) => checkMerge(env, report, queries, answered(pre), answered(post)) }
    env.log("answer checks done")

    val inputBytes = env.contentBytes(base) + batches.take(samples.length).map(env.contentBytes).sum
    report.info("corpus_docs") = committed.toString
    report.info("corpus_bytes") = inputBytes.toString
    Common.reportOps(env, report, samples.toSeq)
    Common.reportIndex(env, report, idx.dir, inputBytes)
    if (env.trace) {
      Layers.queryOps(env, report)
      Layers.ingest(env, report)
      val live = Seq("postings", "docmap", "termdict", "stats").map(c => report.layers(s"index.${c}_bytes")._1).sum
      report.layer("compact.write_amp", report.layers("compact.bytes_written")._1 / live, "ratio")
      report.layer("append_p50_ms", Stats.median(appendMs.toSeq), "ms")
      report.layer("visible_p50_ms", Stats.median(visibleMs.toSeq), "ms")
      report.layer("compact_s", Stats.median(compactS.toSeq), "s")
      report.layer("segments.before_compact", Stats.mean(segsBefore.toSeq), "count")
    }
    env.finish(report, Seq(idx, sr))
  }

  /** Every answer must equal the general path's on the same searcher. */
  private def checkAnswers(env: Env, report: Report, queries: Seq[BenchQuery],
                           sr: Searcher, answers: Seq[Option[Answer]]): Unit = {
    val refs = Common.references(env, sr, queries)
    queries.indices.foreach { i =>
      for (a <- answers(i) if !a.sameAs(refs(i))) {
        report.wrong += 1
        env.log(s"WRONG ANSWER ${queries(i)}: got $a, reference ${refs(i)}")
      }
    }
  }

  /** A merge gives the documents new addresses but keeps their scores:
    * counts and score bits must match the answers before it, and so must
    * the stored paths of the hits that score above the last kept score
    * (ties at the cut may keep different documents).
    */
  private def checkMerge(env: Env, report: Report, queries: Seq[BenchQuery],
                         before: (Searcher, Seq[Option[Answer]]),
                         after: (Searcher, Seq[Option[Answer]])): Unit = {
    val scores = (x: Answer) => x.hits.map(h => java.lang.Float.floatToIntBits(h.score))
    queries.indices.foreach { i =>
      for (a <- before._2(i); b <- after._2(i)
           if a.count != b.count || scores(a) != scores(b) ||
             abovePaths(before._1, a) != abovePaths(after._1, b)) {
        report.wrong += 1
        env.log(s"WRONG: ${queries(i)} answers differently after the merge: $a vs $b")
      }
    }
  }

  private def abovePaths(sr: Searcher, a: Answer): Set[String] = {
    val cut = if (a.hits.isEmpty) 0.0f else a.hits.map(_.score).min
    val above = a.hits.filter(_.score > cut)
    if (above.isEmpty) Set.empty
    else sr.fetch(above).select("path").collect().map(_.getString(0)).toSet
  }
}

/** Per-layer metrics, computed from the spans of a traced run. */
object Layers {

  val QueryOps: Seq[String] = Seq("term", "disj", "topcount", "conj", "phrase", "general")

  /** Every per-layer metric a traced run prints, with its unit. A layer a
    * workload does not exercise reads 0 (for example `collect.*.general`
    * and `append.*` are 0 in `query_mix`).
    */
  val All: Seq[(String, String)] =
    Seq("parse.ms" -> "ms", "weights.ms" -> "ms") ++
    QueryOps.flatMap(op => Seq(
      s"collect.driver_ms.$op" -> "ms", s"collect.job_ms.$op" -> "ms",
      s"collect.jobs.$op" -> "count", s"collect.tasks.$op" -> "count",
      s"collect.task_cpu_ms.$op" -> "ms", s"collect.scan_bytes.$op" -> "bytes",
      s"collect.scan_rows.$op" -> "count", s"collect.shuffle_bytes.$op" -> "bytes",
      s"collect.reconcile.$op" -> "ratio")) ++
    Seq("collect.task_wait_ms" -> "ms", "collect.gc_ms" -> "ms", "collect.core_util" -> "ratio",
      "build.driver_s" -> "s", "build.jobs" -> "count", "build.tasks" -> "count",
      "build.task_cpu_s" -> "s", "build.task_wait_s" -> "s", "build.gc_s" -> "s",
      "build.core_util" -> "ratio", "build.shuffle_write_bytes" -> "bytes",
      "build.spill_bytes" -> "bytes", "build.output_bytes" -> "bytes",
      "index.postings_bytes" -> "bytes", "index.docmap_bytes" -> "bytes",
      "index.termdict_bytes" -> "bytes", "index.stats_bytes" -> "bytes",
      "analysis.mb_per_s" -> "MB/s",
      "append.driver_ms" -> "ms", "append.job_ms" -> "ms", "append.jobs" -> "count",
      "append.task_cpu_ms" -> "ms", "open.ms" -> "ms", "first_query.ms" -> "ms",
      "segments.before_compact" -> "count",
      "compact.driver_ms" -> "ms", "compact.job_ms" -> "ms", "compact.bytes_written" -> "bytes",
      "compact.write_amp" -> "ratio",
      "term_p50_ms" -> "ms", "disj_p50_ms" -> "ms", "topcount_p50_ms" -> "ms",
      "conj_p50_ms" -> "ms", "phrase_p50_ms" -> "ms", "query_p50_ms" -> "ms",
      "query_p90_ms" -> "ms", "append_p50_ms" -> "ms",
      "visible_p50_ms" -> "ms", "compact_s" -> "s", "error_rate" -> "ratio",
      "overhead.setup_s" -> "s", "overhead.op_p50_ms" -> "ms", "overhead.op_p90_ms" -> "ms",
      "overhead.heap_retained_mb" -> "MB", "overhead.index_bytes_per_input_byte" -> "ratio")

  /** Single-threaded analyzer throughput over a sample of the corpus. */
  def analysisMbPerS(seed: Long): Double = {
    val docs = (0L until 400L).map(i => graft.bench.CorpusGen.contentFor(seed, i, 20))
    val mb = docs.map(_.getBytes("UTF-8").length).sum / 1048576.0
    val passes = (0 until 7).map { _ =>
      val t0 = System.nanoTime()
      docs.foreach(graft.analysis.Analysis.defaultTerms)
      mb / Common.seconds(t0)
    }
    Stats.median(passes)
  }

  private def ms(ns: Double): Double = ns / 1e6

  /** parse, weights and collect.* per op class, over the traced query calls. */
  def queryOps(env: Env, report: Report): Unit = {
    val tr = env.tracer
    val calls = tr.spans.filter(s => s.name == "query" || s.name == "first_query")
      .map(s => (s, env.opOfRequest(s.request))).toSeq
    def child(name: String) = calls.flatMap(c => tr.childrenOf(c._1).filter(_.name == name).map(_.ms))
    report.layer("parse.ms", Stats.median(child("parse")), "ms")
    report.layer("weights.ms", Stats.median(child("weights")), "ms")
    val allCollects = mutable.ArrayBuffer.empty[(Span, SpanWork)]
    QueryOps.foreach { op =>
      val mine = calls.filter(_._2 == op).map(_._1)
      val collects = mine.flatMap(tr.childrenOf(_).filter(_.name == "collect")).map(s => (s, tr.workOf(s)))
      allCollects ++= collects
      def m(f: ((Span, SpanWork)) => Double) = Stats.mean(collects.map(f))
      val driver = m { case (s, w) => s.ms - w.coveredMs }
      val job = m(_._2.jobMs)
      report.layer(s"collect.driver_ms.$op", driver, "ms")
      report.layer(s"collect.job_ms.$op", job, "ms")
      report.layer(s"collect.jobs.$op", m(_._2.jobs.toDouble), "count")
      report.layer(s"collect.tasks.$op", m(_._2.totals.tasks.toDouble), "count")
      report.layer(s"collect.task_cpu_ms.$op", m(x => ms(x._2.totals.cpuNs.toDouble)), "ms")
      report.layer(s"collect.scan_bytes.$op", m(_._2.totals.inBytes.toDouble), "bytes")
      report.layer(s"collect.scan_rows.$op", m(_._2.totals.inRows.toDouble), "count")
      report.layer(s"collect.shuffle_bytes.$op", m(_._2.totals.shuffleWrite.toDouble), "bytes")
      val wall = Stats.mean(mine.map(_.ms))
      report.layer(s"collect.reconcile.$op", if (wall > 0) (driver + job) / wall else 0.0, "ratio")
    }
    val covered = allCollects.map(_._2.coveredMs).sum
    report.layer("collect.task_wait_ms", Stats.mean(allCollects.map(_._2.totals.waitMs.toDouble).toSeq), "ms")
    report.layer("collect.gc_ms", Stats.mean(allCollects.map(_._2.totals.gcMs.toDouble).toSeq), "ms")
    report.layer("collect.core_util",
      if (covered > 0) allCollects.map(_._2.totals.runMs).sum / (covered * env.cores) else 0.0, "ratio")
  }

  /** build.* over the traced `build` span: the index build before set-up. */
  def build(env: Env, report: Report): Unit = {
    val tr = env.tracer
    val bs = tr.named("build").map(s => (s, tr.workOf(s)))
    def m(f: ((Span, SpanWork)) => Double) = Stats.mean(bs.map(f))
    report.layer("build.driver_s", m { case (s, w) => (s.ms - w.coveredMs) / 1000 }, "s")
    report.layer("build.jobs", m(_._2.jobs.toDouble), "count")
    report.layer("build.tasks", m(_._2.totals.tasks.toDouble), "count")
    report.layer("build.task_cpu_s", m(_._2.totals.cpuNs / 1e9), "s")
    report.layer("build.task_wait_s", m(_._2.totals.waitMs / 1000.0), "s")
    report.layer("build.gc_s", m(_._2.totals.gcMs / 1000.0), "s")
    report.layer("build.core_util",
      m { case (_, w) => if (w.coveredMs > 0) w.totals.runMs / (w.coveredMs * env.cores) else 0.0 }, "ratio")
    report.layer("build.shuffle_write_bytes", m(_._2.totals.shuffleWrite.toDouble), "bytes")
    report.layer("build.spill_bytes", m(_._2.totals.spill.toDouble), "bytes")
    report.layer("build.output_bytes", m(_._2.totals.outBytes.toDouble), "bytes")
  }

  /** append.*, open/first-query and compact.* for the writer loop. */
  def ingest(env: Env, report: Report): Unit = {
    val tr = env.tracer
    build(env, report)
    val as = tr.named("append").map(s => (s, tr.workOf(s)))
    report.layer("append.driver_ms", Stats.mean(as.map { case (s, w) => s.ms - w.coveredMs }), "ms")
    report.layer("append.job_ms", Stats.mean(as.map(_._2.jobMs)), "ms")
    report.layer("append.jobs", Stats.mean(as.map(_._2.jobs.toDouble)), "count")
    report.layer("append.task_cpu_ms", Stats.mean(as.map(_._2.totals.cpuNs / 1e6)), "ms")
    report.layer("open.ms", Stats.mean(tr.named("open").filter(_.parent >= 0)
      .filter(s => tr.spans(s.parent).name == "round").map(_.ms)), "ms")
    report.layer("first_query.ms", Stats.mean(tr.named("first_query").map(_.ms)), "ms")
    val cs = tr.named("compact").map(s => (s, tr.workOf(s))).filter(_._2.jobs > 0)
    report.layer("compact.driver_ms", Stats.mean(cs.map { case (s, w) => s.ms - w.coveredMs }), "ms")
    report.layer("compact.job_ms", Stats.mean(cs.map(_._2.jobMs)), "ms")
    report.layer("compact.bytes_written", Stats.mean(cs.map(_._2.totals.outBytes.toDouble)), "bytes")
  }
}
