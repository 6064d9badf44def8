package graft.query

import org.apache.spark.sql.functions._
import graft.score.Bm25

/** Per-segment leapfrog intersection executor — the reference's cost-ordered
  * `Intersection` scorer (`src/query/intersection.rs:15-120`: docsets sorted
  * by cost, smallest drives, others gallop to the candidate) and its
  * positions-aware phrase variant (`phrase_scorer.rs:46-420`), run the same
  * way the WAND executor runs: ONE narrow shuffle of the query terms' packed
  * posting blocks grouped by segment, a local in-memory leapfrog per segment
  * task, per-segment (top-k, count) fruits, driver merge
  * (`top_collector.rs:102-122`).
  *
  * This is the fast collector path for pure conjunctions (`+a +b`) and
  * phrases; the Dataset join pipeline in Searcher remains the composable
  * path (arbitrary bool trees, doc-set materialization). Chained equi-joins
  * pay a shuffle barrier per join; at interactive latency the single
  * groupByKey-by-segment shuffle is the difference between ~300 ms and
  * multi-second queries, and at cluster scale it is one stage regardless of
  * clause count.
  */
object Intersect {

  /** One term's postings within one segment, blocks concatenated in docId
    * order. Positions ride in CSR form — one flat array plus per-doc offsets
    * — rather than `Array[Array[Int]]`: the nested shape pays a per-inner-
    * array encoder/serializer cost on the shuffle for every posting of a hot
    * term, while two primitive arrays copy as blobs. Empty when positions
    * were not requested.
    */
  final class TermPostings(val docIds: Array[Int], val tfs: Array[Int],
                           val normIds: Array[Int],
                           val posFlat: Array[Int], val posOffsets: Array[Int])

  /** Leapfrog over per-term sorted docId arrays (rarest first = index 0);
    * invokes `onMatch(docId, idxPerTerm)` for every doc present in all lists.
    * Pointers only move forward; seeks gallop via ranged binary search —
    * the `intersection.rs:66-101` loop without the block machinery (blocks
    * are already concatenated here; Parquet row-group pruning replaced the
    * skip lists on the way in).
    */
  def leapfrog(lists: Array[TermPostings])(onMatch: (Int, Array[Int]) => Unit): Unit = {
    val n = lists.length
    if (n == 0 || lists.exists(_.docIds.length == 0)) return
    val idx = new Array[Int](n)
    val lead = lists(0).docIds
    var i0 = 0
    while (i0 < lead.length) {
      val d = lead(i0)
      var ok = true
      var j = 1
      while (ok && j < n) {
        val arr = lists(j).docIds
        var p = java.util.Arrays.binarySearch(arr, idx(j), arr.length, d)
        if (p >= 0) idx(j) = p
        else {
          p = -p - 1
          idx(j) = p
          if (p >= arr.length) return // some list exhausted: no more matches
          ok = false
        }
        j += 1
      }
      if (ok) { idx(0) = i0; onMatch(d, idx) }
      i0 += 1
    }
  }

  private[graft] def collectSegments(searcher: Searcher, distinctTerms: Seq[String],
                                     needPositions: Boolean) = {
    val spark = searcher.spark
    import spark.implicits._
    val base = searcher.postings
      .where($"field" === searcher.field && $"term".isin(distinctTerms: _*))
    // positions are flattened to CSR (posFlat + per-doc lengths) MAP-SIDE in
    // the scan select, so the nested array shape never crosses the shuffle
    val withPos =
      if (needPositions) base
        .select($"segId", $"term", $"blockId", $"docIds", $"tfs", $"normIds",
          flatten($"positions").as("posFlat"),
          transform($"positions", p => size(p)).as("posLens"))
      else base
        .select($"segId", $"term", $"blockId", $"docIds", $"tfs", $"normIds",
          typedLit(Array.empty[Int]).as("posFlat"),
          typedLit(Array.empty[Int]).as("posLens"))
    withPos
      .as[(Int, String, Int, Array[Int], Array[Int], Array[Int], Array[Int], Array[Int])]
  }

  /** Arm the rare-driven block pruning when the rarest term's postings fit a
    * broadcast and the other terms dwarf it (shuffle saving is meaningful).
    */
  private final val RARE_BROADCAST_MAX_DF: Long = 1L << 16

  /** First index in the sorted array with value >= target. */
  private def lowerBound(a: Array[Int], target: Long): Int = {
    var lo = 0; var hi = a.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (a(mid) < target) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** The docId-range chunks of `chunkDocs` docs that a block's sorted
    * docIds span, as (chunk, from, until) index ranges into `ds` — one
    * slicing semantics for both executors (Wand.multiTerm slices here too).
    * The common case, a block inside one chunk, is (chunk, 0, ds.length).
    */
  private[query] def chunkSpans(ds: Array[Int], chunkDocs: Int): Iterator[(Int, Int, Int)] =
    if (ds.isEmpty) Iterator.empty
    else {
      val lo = ds(0) / chunkDocs
      val hi = ds(ds.length - 1) / chunkDocs
      if (lo == hi) Iterator.single((lo, 0, ds.length))
      else (lo to hi).iterator
        .map(c => (c, lowerBound(ds, c.toLong * chunkDocs), lowerBound(ds, (c + 1).toLong * chunkDocs)))
        .filter(span => span._2 < span._3)
    }

  /** Slice block rows into docId-range chunks of `chunkDocs` docs, keyed
    * (segId, chunk) — same soundness argument as the WAND executor's
    * chunking (Wand.multiTerm): a doc's entries for every term land in the
    * same chunk, so per-chunk intersections are complete for their docs and
    * disjoint across chunks; counts add, per-chunk top-ks driver-merge. A
    * straddling block is sliced exactly, including its CSR position slice.
    * Bounds per-task residency for arbitrarily large segments AND lets
    * several tasks work one giant segment in parallel.
    */
  private[graft] def chunkRows(
      rows: org.apache.spark.sql.Dataset[(Int, String, Int, Array[Int], Array[Int], Array[Int], Array[Int], Array[Int])],
      chunkDocs: Int) = {
    import rows.sparkSession.implicits._
    val cw = chunkDocs
    rows.flatMap { case (segId, term, blockId, ds, tfs, ns, pf, pl) =>
      // CSR prefix offsets, only for a straddling block (rare case)
      lazy val off = pl.scanLeft(0)(_ + _)
      chunkSpans(ds, cw).map { case (c, from, until) =>
        if (from == 0 && until == ds.length) (segId, c, term, blockId, ds, tfs, ns, pf, pl)
        else {
          import java.util.Arrays.copyOfRange
          val (pf2, pl2) =
            if (pl.isEmpty) (Array.emptyIntArray, Array.emptyIntArray)
            else (copyOfRange(pf, off(from), off(until)), copyOfRange(pl, from, until))
          (segId, c, term, blockId, copyOfRange(ds, from, until),
            copyOfRange(tfs, from, until), copyOfRange(ns, from, until), pf2, pl2)
        }
      }
    }
  }

  /** Per-segment term lists for the leapfrog, as a grouped Dataset whose
    * tasks see every query term's postings for their segment.
    *
    * When the rarest term is small and the others are not, the rarest list
    * rides a BROADCAST and only blocks of the other terms whose
    * [firstDoc, lastDoc] span contains one of its docIds are shuffled — the
    * distributed analog of the cost-ordered leapfrog (`intersection.rs:26,81`:
    * smallest docset drives, the rest seek to its candidates): a block the
    * driving list can never visit is dropped map-side before the shuffle. The
    * intersection is a subset of the rare term's docs, so pruning loses no
    * matches; the leapfrog's forward-only galloping stays correct over the
    * gapped lists because it only ever probes for the driver's docIds.
    */
  private def mapSegments[R: org.apache.spark.sql.Encoder](
      searcher: Searcher, ordered: Seq[String], dfs: Map[String, Long],
      needPositions: Boolean,
      chunkDocs: Int)(f: (Int, Array[TermPostings]) => R): Array[R] = {
    import searcher.spark.implicits._
    val terms = ordered.toArray
    // the task's lists in `ordered` order; a term absent from the chunk is empty
    def lists(byTerm: Map[String, TermPostings]): Array[TermPostings] =
      terms.map(t => byTerm.getOrElse(t,
        new TermPostings(Array.empty, Array.empty, Array.empty, Array.empty, Array.empty)))
    val rare = ordered.head
    val useBc = ordered.length > 1 && dfs(rare) <= RARE_BROADCAST_MAX_DF &&
      ordered.tail.map(dfs).sum > 4 * dfs(rare)
    if (!useBc) {
      chunkRows(collectSegments(searcher, ordered, needPositions), chunkDocs)
        .groupByKey(r => (r._1, r._2))
        .mapGroups { (key, it) => f(key._1, lists(assembleChunk(it, needPositions))) }
        .collect()
    } else {
      val spark = searcher.spark
      val rareBySeg: Map[Int, TermPostings] =
        collectSegments(searcher, Seq(rare), needPositions).collect()
          .groupBy(_._1)
          .map { case (s, rows) => s -> assemble(rows.iterator, needPositions)(rare) }
      val rareB = spark.sparkContext.broadcast(rareBySeg.map {
        case (s, tp) => s -> (tp.docIds, tp.tfs, tp.normIds, tp.posFlat, tp.posOffsets) })
      val rareName = rare
      // the rare list rides the broadcast WHOLE into every chunk task; the
      // leapfrog drives on it and only probes the chunk's other-term slices,
      // so each cross-chunk doc is found exactly once (in its own chunk)
      val local = chunkRows(
          collectSegments(searcher, ordered.tail, needPositions)
            .filter { r =>
              rareB.value.get(r._1) match {
                case None => false // rare term absent in segment: empty intersection
                case Some((docs, _, _, _, _)) =>
                  val ds = r._4
                  val p = java.util.Arrays.binarySearch(docs, ds(0))
                  val ins = if (p >= 0) p else -p - 1
                  ins < docs.length && docs(ins) <= ds(ds.length - 1)
              }
            }, chunkDocs)
        .groupByKey(r => (r._1, r._2))
        .mapGroups { (key, it) =>
          val (d, t, n, pf, po) = rareB.value(key._1)
          f(key._1, lists(assembleChunk(it, needPositions) + (rareName -> new TermPostings(d, t, n, pf, po))))
        }
        .collect()
      // segments where the rare term matched but NO other-term block survived
      // still hold zero intersection docs — nothing to add back
      local
    }
  }

  /** [[assemble]] over chunk-keyed rows (the chunk id is dropped). */
  private def assembleChunk(
      it: Iterator[(Int, Int, String, Int, Array[Int], Array[Int], Array[Int], Array[Int], Array[Int])],
      needPositions: Boolean): Map[String, TermPostings] =
    assemble(it.map { case (segId, _, term, blockId, ds, tfs, ns, pf, pl) =>
      (segId, term, blockId, ds, tfs, ns, pf, pl) }, needPositions)

  /** Assemble each term's blocks (sorted by blockId) into one TermPostings;
    * per-block CSR slices concatenate into one per-term CSR.
    */
  private def assemble(
      it: Iterator[(Int, String, Int, Array[Int], Array[Int], Array[Int], Array[Int], Array[Int])],
      needPositions: Boolean): Map[String, TermPostings] = {
    val byTerm = scala.collection.mutable.Map.empty[String,
      scala.collection.mutable.ArrayBuffer[(Int, Array[Int], Array[Int], Array[Int], Array[Int], Array[Int])]]
    it.foreach { case (_, term, blockId, ds, tfs, ns, pf, pl) =>
      byTerm.getOrElseUpdate(term, scala.collection.mutable.ArrayBuffer.empty) +=
        ((blockId, ds, tfs, ns, pf, pl))
    }
    byTerm.map { case (term, blks) =>
      val sorted = blks.sortBy(_._1)
      val docIds = sorted.iterator.flatMap(_._2).toArray
      val tfs = sorted.iterator.flatMap(_._3).toArray
      val norms = sorted.iterator.flatMap(_._4).toArray
      if (!needPositions)
        term -> new TermPostings(docIds, tfs, norms, Array.emptyIntArray, Array.emptyIntArray)
      else {
        val flat = sorted.iterator.flatMap(_._5).toArray
        val lens = sorted.iterator.flatMap(_._6).toArray
        val offsets = new Array[Int](lens.length + 1)
        var i = 0
        while (i < lens.length) { offsets(i + 1) = offsets(i) + lens(i); i += 1 }
        term -> new TermPostings(docIds, tfs, norms, flat, offsets)
      }
    }.toMap
  }

  /** Scored conjunction of terms: top-k + total count in one pass.
    * Score = sum of per-clause BM25 term scores in clause order
    * (`SumCombiner`, `score_combiner.rs:39`), f32.
    */
  def topKMust(searcher: Searcher, clauseTerms: Seq[String], k: Int,
               chunkDocs: Int = Wand.DefaultChunkDocs): (Array[Hit], Long) = {
    val spark = searcher.spark
    import spark.implicits._
    val distinct = clauseTerms.distinct
    val dfs = searcher.docFreqs(distinct) // one metadata job for dfs AND weights
    val weights = searcher.weightsFromDfs(dfs)
    if (distinct.exists(t => !weights.contains(t))) return (Array.empty, 0L)
    val ordered = distinct.sortBy(t => (dfs(t), t))
    // clause c reads tf/weight of its term, via the ordered index
    val ordIdx = ordered.zipWithIndex.toMap
    val clauseIdx = clauseTerms.map(ordIdx).toArray
    val wB = spark.sparkContext.broadcast(ordered.map(weights).toArray)

    val fruits = mapSegments(searcher, ordered, dfs, needPositions = false, chunkDocs) {
      (segId, lists) =>
        val ws = wB.value
        val topk = new Wand.TopK(k)
        var cnt = 0L
        leapfrog(lists) { (doc, idx) =>
          val normId = lists(0).normIds(idx(0))
          var score = 0.0f
          var c = 0
          while (c < clauseIdx.length) {
            val ti = clauseIdx(c)
            score += ws(ti).score(normId, lists(ti).tfs(idx(ti)).toLong)
            c += 1
          }
          cnt += 1
          topk.insert(segId, doc, score)
          ()
        }
        (topk.hits, cnt)
    }

    Wand.TopK.merge(fruits, k)
  }

  /** Phrase top-k + count in one pass: leapfrog intersection, then the
    * positions check; phrase occurrence count is the tf fed to the summed-idf
    * multi-term weight (`bm25.rs:115-123`, `phrase_scorer.rs:82-143`).
    */
  def topKPhrase(searcher: Searcher, p: PhraseQ, k: Int,
                 chunkDocs: Int = Wand.DefaultChunkDocs): (Array[Hit], Long) = {
    require(searcher.indexMeta.forall(_.withPositions),
      s"phrase query needs positions, but the index at ${searcher.indexDir} was built with withPositions=false")
    val spark = searcher.spark
    import spark.implicits._
    val terms = p.terms.map(_._2)
    val distinct = terms.distinct
    val dfs = searcher.docFreqs(distinct)
    if (distinct.exists(t => !dfs.contains(t))) return (Array.empty, 0L)
    val weight = Bm25.forTerms(terms.map(dfs), searcher.totalNumDocs, searcher.avgFieldnorm)
    val ordered = distinct.sortBy(t => (dfs(t), t))
    val ordIdx = ordered.zipWithIndex.toMap
    val slotIdx = p.terms.map { case (_, t) => ordIdx(t) }.toArray
    val offsets = p.terms.map(_._1).toArray
    val slop = p.slop
    val weightB = spark.sparkContext.broadcast(weight)

    val fruits = mapSegments(searcher, ordered, dfs, needPositions = true, chunkDocs) {
      (segId, lists) =>
        val w = weightB.value
        val topk = new Wand.TopK(k)
        var cnt = 0L
        val flats = new Array[Array[Int]](slotIdx.length)
        val starts = new Array[Int](slotIdx.length)
        val ends = new Array[Int](slotIdx.length)
        leapfrog(lists) { (doc, idx) =>
          var s = 0
          while (s < slotIdx.length) {
            val tp = lists(slotIdx(s)); val i = idx(slotIdx(s))
            flats(s) = tp.posFlat
            starts(s) = tp.posOffsets(i); ends(s) = tp.posOffsets(i + 1)
            s += 1
          }
          val c = PhraseMatcher.phraseCountCsr(offsets, flats, starts, ends, slop)
          if (c > 0) {
            cnt += 1
            topk.insert(segId, doc, w.score(lists(0).normIds(idx(0)), c.toLong))
            ()
          }
        }
        (topk.hits, cnt)
    }

    Wand.TopK.merge(fruits, k)
  }
}
