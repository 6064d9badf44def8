package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite
import graft.analysis.Analysis
import graft.bench.CorpusGen
import graft.index.{IndexBuilder, IndexConfig}
import graft.query._
import graft.query.Searcher.Route

/** The collectors' one seam: `Searcher.route` picks the executor for a
  * query shape once, and `Searcher.collect` runs it under every collector.
  * On a tombstone-free index each route must answer TopK (with and without
  * an offset), Count and TopKCount exactly like the Generic path — every
  * match from `compile`, sorted on the driver — with f32 scores bit for bit.
  */
class CollectorRouteSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val nDocs = 400
  private val seed = 11L

  private lazy val sr: Searcher = {
    val dir = java.nio.file.Files.createTempDirectory("graft-route").toString
    IndexBuilder.build(spark, CorpusGen.corpus(spark, nDocs, seed).toDF(), dir,
      IndexConfig(numSegments = 3, blockSize = 16))
    new Searcher(spark, dir)
  }

  /** Terms by descending global df: a hot term and a mid-frequency one. */
  private lazy val (hot, mid): (String, String) = {
    val byDf = sr.termdict.where($"field" === "content")
      .groupBy($"term").agg(org.apache.spark.sql.functions.sum($"docFreq").as("df"))
      .as[(String, Long)].collect().sortBy { case (t, df) => (-df, t) }
    (byDf.head._1, byDf.find(_._2 <= nDocs / 8).get._1)
  }

  /** The bigram (adjacent positions) that occurs in the most documents. */
  private lazy val bigram: PhraseQ = {
    val docsPerPair = (0L until nDocs).flatMap { i =>
      Analysis.defaultTerms(CorpusGen.contentFor(seed, i, 20)).sliding(2).collect {
        case Seq((a, p), (b, q)) if q == p + 1 => (a, b)
      }.toSet
    }.groupBy(identity).map { case (p, xs) => p -> xs.size }
    val (a, b) = docsPerPair.toSeq.sortBy { case (p, n) => (-n, p) }.head._1
    PhraseQ.of(a, b)
  }

  private lazy val queries: Seq[(String, Query)] = Seq(
    "phrase" -> bigram,
    "+a +b" -> BoolQ(Seq(Occur.Must -> TermQ(hot), Occur.Must -> TermQ(mid))),
    "a b" -> BoolQ(Seq(Occur.Should -> TermQ(hot), Occur.Should -> TermQ(mid))),
    "boosted term" -> BoostQ(TermQ(mid), 2.5f),
    "+a -b" -> BoolQ(Seq(Occur.Must -> TermQ(hot), Occur.MustNot -> TermQ(mid))))

  /** Every match of `q` from the Generic path, in collector order. */
  private def reference(q: Query): Array[Hit] =
    sr.compile(q).collect().map(s => Hit(s.segId, s.docId, s.score)).sorted

  private def bits(hits: Array[Hit]): Seq[(Int, Int, Int)] =
    hits.toSeq.map(h => (h.segId, h.docId, java.lang.Float.floatToIntBits(h.score)))

  test("each query shape takes its route") {
    val routes = queries.map { case (name, q) => name -> sr.route(q) }.toMap
    assert(routes("phrase") == Route.Phrase(bigram))
    assert(routes("+a +b") == Route.Must(Seq(hot, mid)))
    assert(routes("a b") == Route.Should(Seq(hot -> 1.0f, mid -> 1.0f)))
    assert(routes("boosted term") == Route.Should(Seq(mid -> 2.5f)))
    assert(routes("+a -b").isInstanceOf[Route.Generic])
  }

  test("every route answers every collector like the Generic path, bit for bit") {
    for ((name, q) <- queries) {
      val all = reference(q)
      assert(all.length > 13, s"$name: too few matches to test an offset")
      val expectTop = bits(all.take(10))
      assert(bits(sr.topDocs(q, 10)) == expectTop, s"$name TopK(10, 0)")
      assert(bits(sr.topDocs(q, 10, offset = 3)) == bits(all.slice(3, 13)), s"$name TopK(10, 3)")
      assert(sr.count(q) == all.length, s"$name Count")
      val (hits, n) = sr.topDocsWithCount(q, 10)
      assert(bits(hits) == expectTop && n == all.length, s"$name TopKCount(10)")
    }
  }

  /** Spark jobs `body` starts, found by their job group. Listener events
    * arrive asynchronously but in order, so once a sentinel job run after
    * `body` has been seen, every job of `body` has been seen too.
    */
  private def jobsOf(group: String)(body: => Unit): Int = {
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull))
    }
    val sentinel = s"$group-sentinel"
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
      sc.setJobGroup(sentinel, sentinel)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!groups.contains(sentinel) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(groups.contains(sentinel), "the listener never saw the sentinel job")
      groups.toArray.count(_ == group)
    } finally sc.removeSparkListener(listener)
  }

  test("a single-term count, bare or boosted, is a df lookup that starts no job") {
    sr.docFreqs(Seq(hot)) // the df lookup itself is one metadata job per Searcher
    assert(jobsOf("generic-count")(sr.compile(TermQ(hot)).count()) > 0)
    assert(jobsOf("term-count")(sr.count(TermQ(hot))) == 0)
    assert(jobsOf("boosted-count")(sr.count(BoostQ(TermQ(hot), 2.0f))) == 0)
    assert(sr.count(TermQ(hot)) == reference(TermQ(hot)).length)
  }
}
