package perfbench

import graft.io.Corpus

/** Driver-side reference results for the crawl, computed straight from the
  * page generator without Spark: vids are minted in first-appearance order
  * (rows by page, links in page order, source before target), then
  * PageRank with the reference semantics, union-find components and an
  * exact triangle count. */
final case class CrawlOracle(n: Int, pr: Array[Double], top10: Array[Int], components: Long,
    triangles: Long)

object CrawlOracle {

  /** run.py's default seed; the pinned results below belong to it at full size. */
  val DefaultSeed = 1L
  val Pinned: (Long, Long, Seq[Int]) = (264L, 1L, Seq(1, 0, 2, 3, 4, 6, 5, 9, 7, 8))

  def apply(pages: Long, links: Int, seed: Long, iters: Int): CrawlOracle = {
    val vid = new Array[Int](pages.toInt)
    java.util.Arrays.fill(vid, -1)
    var n = 0
    def mint(p: Long): Int = { if (vid(p.toInt) < 0) { vid(p.toInt) = n; n += 1 }; vid(p.toInt) }
    val src = scala.collection.mutable.ArrayBuilder.make[Int]
    val dst = scala.collection.mutable.ArrayBuilder.make[Int]
    var i = 0L
    while (i < pages) {
      Corpus.linkTargets(i, links, seed).foreach { t =>
        val s = mint(i); val d = mint(t)
        src += s; dst += d
      }
      i += 1
    }
    val (es, ed) = (src.result(), dst.result())

    // PageRank: damping 0.85, teleport (1-d)/n, sink mass spread evenly
    val outDeg = new Array[Int](n)
    es.foreach(s => outDeg(s) += 1)
    var score = Array.fill(n)(1.0 / n)
    for (_ <- 1 to iters) {
      val next = new Array[Double](n)
      var k = 0
      while (k < es.length) { next(ed(k)) += score(es(k)) / outDeg(es(k)); k += 1 }
      var sink = 0.0
      var v = 0
      while (v < n) { if (outDeg(v) == 0) sink += score(v); v += 1 }
      val add = 0.15 / n + 0.85 / n * sink
      v = 0
      while (v < n) { next(v) = 0.85 * next(v) + add; v += 1 }
      score = next
    }
    val top10 = (0 until n).sortBy(v => (-score(v), v)).take(10).toArray

    // weakly connected components
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); var y = x
      while (parent(y) != r) { val nx = parent(y); parent(y) = r; y = nx }; r }
    es.indices.foreach { k => val a = find(es(k)); val b = find(ed(k)); if (a != b) parent(a) = b }
    val components = (0 until n).count(v => find(v) == v).toLong

    // triangles of the undirected simple graph, each counted once
    val adj = Array.fill(n)(scala.collection.mutable.TreeSet.empty[Int])
    es.indices.foreach { k => val a = es(k); val b = ed(k)
      if (a != b) { adj(a) += b; adj(b) += a } }
    val up = Array.tabulate(n)(v => adj(v).iteratorFrom(v + 1).toArray)
    var tri = 0L
    for (a <- 0 until n; b <- up(a)) {
      val x = up(a); val y = up(b)
      var p = 0; var q = 0
      while (p < x.length && q < y.length) {
        if (x(p) < y(q)) p += 1 else if (x(p) > y(q)) q += 1 else { tri += 1; p += 1; q += 1 }
      }
    }
    CrawlOracle(n, score, top10, components, tri)
  }
}
