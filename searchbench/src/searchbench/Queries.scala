package searchbench

import graft.analysis.Analysis
import graft.bench.CorpusGen
import graft.query._

/** One benchmark query: an operation class (`op`), a search-benchmark-game
  * command and the user's query string.
  */
final case class BenchQuery(op: String, cmd: String, text: String) {
  def parse(): Query = QueryParser.parse(text)
  override def toString: String = s"$op\t$cmd\t$text"
}

/** A collector's answer: top-k hits (empty for COUNT) and the hit count
  * (-1 for TOP_10).
  */
final case class Answer(hits: Seq[Hit], count: Long) {
  /** Bit-for-bit equality: docIDs, f32 score bits, counts. */
  def sameAs(o: Answer): Boolean =
    count == o.count && hits.length == o.hits.length &&
      hits.zip(o.hits).forall { case (a, b) =>
        a.segId == b.segId && a.docId == b.docId &&
          java.lang.Float.floatToIntBits(a.score) == java.lang.Float.floatToIntBits(b.score)
      }
}

object Queries {
  val K = 10

  /** Run one command through the engine's public collectors. */
  def run(sr: Searcher, q: Query, cmd: String): Answer = cmd match {
    case "TOP_10" => Answer(sr.topDocs(q, K).toSeq, -1L)
    case "TOP_10_COUNT" => val (h, c) = sr.topDocsWithCount(q, K); Answer(h.toSeq, c)
    case "COUNT" => Answer(Seq.empty, sr.count(q))
  }

  /** The reference answer: every match from the general Catalyst path
    * (`Searcher.compile`), ordered on the driver by (score desc, segId,
    * docId) like the reference's top collector.
    */
  def reference(sr: Searcher, q: BenchQuery): Answer = {
    val all = sr.compile(q.parse()).collect()
      .sortBy(s => (-s.score, s.segId, s.docId))
    val hits = all.take(K).map(s => Hit(s.segId, s.docId, s.score)).toSeq
    q.cmd match {
      case "TOP_10" => Answer(hits, -1L)
      case "TOP_10_COUNT" => Answer(hits, all.length.toLong)
      case "COUNT" => Answer(Seq.empty, all.length.toLong)
    }
  }

  /** Terms whose BM25 weights the query needs (the df lookup layer). */
  def scoredTerms(q: Query): Seq[String] = q match {
    case TermQ(t) => Seq(t)
    case PhraseQ(ts, _) => ts.map(_._2)
    case BoolQ(cs, _) => cs.filter(_._1 != Occur.MustNot).flatMap(c => scoredTerms(c._2))
    case BoostQ(sub, _) => scoredTerms(sub)
    case FieldQ(_, sub) => scoredTerms(sub)
    case _ => Seq.empty
  }

  /** Draws query ingredients from the documents of `CorpusGen(seed)` itself,
    * so tail identifiers and phrases always occur in the index.
    */
  final class Sampler(seed: Long, numDocs: Long) {
    private val rng = new java.util.Random(seed * 31L + 17L)
    private val kw = CorpusGen.keywords

    /** A hot term from stratum `i % 3` of the Zipf head (keywords 0-2,
      * 3-6, 7-11): strata keep the mix of posting-list lengths the same
      * from seed to seed.
      */
    def hot(i: Int): String = {
      val (lo, hi) = Seq((0, 3), (3, 7), (7, 12))(i % 3)
      kw(lo + rng.nextInt(hi - lo))
    }
    /** A keyword outside the head, from stratum `i % 3` of the rest. */
    def warm(i: Int): String = {
      val w = (kw.length - 12) / 3
      kw(12 + (i % 3) * w + rng.nextInt(w))
    }
    private def docTerms(): Seq[(String, Int)] =
      Analysis.defaultTerms(CorpusGen.contentFor(seed, (rng.nextDouble() * numDocs).toLong, 20))

    /** A long-tail identifier such as `parserimpl1234` (one token). */
    def tail(): String = {
      var ids = Seq.empty[String]
      while (ids.isEmpty) ids = docTerms().map(_._1).filter(_.contains("impl")).distinct
      ids(rng.nextInt(ids.length))
    }

    /** A quoted two-word phrase from one document: a keyword of stratum
      * `i % 3` of the Zipf head followed by an identifier with digits
      * (`parserimpl1234`, `codecq512`), a long-tail word.
      */
    def phrase(i: Int): String = {
      val (lo, hi) = Seq((0, 3), (3, 7), (7, 12))(i % 3)
      val head = kw.slice(lo, hi).toSet
      var found = Seq.empty[String]
      while (found.isEmpty) {
        val pairs = docTerms().map(_._1).sliding(2).filter(p =>
          p.length == 2 && head.contains(p(0)) && p(1).exists(_.isDigit) &&
            p(1).exists(_.isLetter)).toSeq
        if (pairs.nonEmpty) found = pairs(rng.nextInt(pairs.length))
      }
      "\"" + found.mkString(" ") + "\""
    }
  }

  /** The `query_mix` set: the search-benchmark-game strata of
    * `bench/queries.txt` (hot and tail terms, two-term disjunctions, `+a +b`
    * conjunctions, phrases), each answered by a fast path.
    */
  def mix(seed: Long, numDocs: Long): Seq[BenchQuery] = {
    val s = new Sampler(seed, numDocs)
    val terms = (0 until 2).map(i => BenchQuery("term", "TOP_10", s.hot(i))) ++
      (0 until 2).map(_ => BenchQuery("term", "TOP_10", s.tail()))
    val disj = (0 until 4).map(i => BenchQuery("disj", "TOP_10", s"${s.hot(i)} ${s.tail()}"))
    val topcount = (0 until 4).map(i => BenchQuery("topcount", "TOP_10_COUNT", s"${s.hot(i)} ${s.tail()}"))
    val conj = (0 until 4).map { i =>
      BenchQuery("conj", if (i % 2 == 0) "TOP_10" else "COUNT", s"+${s.hot(i)} +${s.warm(i)}")
    }
    val phrase = (0 until 4).map(i => BenchQuery("phrase", "TOP_10", s.phrase(i)))
    terms ++ disj ++ topcount ++ conj ++ phrase
  }

  /** One query per fast-path shape, plus two the general Catalyst path
    * (`Searcher.compile`) answers — a MustNot boolean and a prefix
    * expansion — for the refresh rounds.
    */
  def refresh(seed: Long, numDocs: Long): Seq[BenchQuery] = {
    val s = new Sampler(seed, numDocs)
    val fast = Seq(
      BenchQuery("term", "TOP_10", s.tail()),
      BenchQuery("disj", "TOP_10", s"${s.hot(0)} ${s.tail()}"),
      BenchQuery("topcount", "TOP_10_COUNT", s"${s.hot(1)} ${s.tail()}"),
      BenchQuery("conj", "TOP_10", s"+${s.hot(2)} +${s.warm(0)}"),
      BenchQuery("phrase", "TOP_10", s.phrase(0)))
    val id = s.tail()
    val stem = id.takeWhile(!_.isDigit) // "parserimpl" of "parserimpl1234"
    fast ++ Seq(
      BenchQuery("general", "TOP_10_COUNT", s"+${s.hot(1)} -${s.hot(2)}"),
      BenchQuery("general", "TOP_10", s"$stem${id.drop(stem.length).take(2)}*"))
  }
}
