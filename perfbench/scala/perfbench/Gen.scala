package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.io.Corpus

/** Seeded input generators. Every row is a pure function of (seed, row
  * index), so the same seed gives the same inputs at any partitioning. */
object Gen {

  /** The crawl's pages table (url, warc_ts, html, text, lang). */
  def pages(spark: SparkSession, n: Long, links: Int, seed: Long): DataFrame =
    Corpus.pages(spark, n, links, seed).toDF()

  /** A numeric web-like edge list with hub-heavy in-degree: `m` edges over
    * n = m / 8 ids. Sources are uniform; a destination rank is n·u³ for a
    * uniform u, so rank 0 alone receives about n^(-1/3) of all edges, and
    * the ranks are scattered over the id space by a multiplicative bijection.
    * Self-loops and repeated pairs occur and are left in: the program's
    * dedup handles them. */
  def hubEdges(spark: SparkSession, m: Long, seed: Long): DataFrame = {
    import spark.implicits._
    val n = math.max(m / 8, 2L)
    val scatter = 1000003L // prime, so rank -> rank·p mod n is a bijection for n < p
    require(n < scatter, s"hubEdges: $n ids exceed the scatter prime")
    spark.range(0, m, 1, spark.sparkContext.defaultParallelism).map { i =>
      val h = Corpus.splitmix64(seed ^ Corpus.splitmix64(i))
      val src = java.lang.Long.remainderUnsigned(h, n)
      val u = (Corpus.splitmix64(h) >>> 11).toDouble / (1L << 53).toDouble
      val rank = math.min(n - 1, (n * u * u * u).toLong)
      (src, rank * scatter % n)
    }.toDF("src", "dst")
  }

  /** The queries' closed-loop order: a seeded Fisher-Yates shuffle. */
  def queryOrder(names: Seq[String], seed: Long): Seq[String] = {
    val a = names.toArray
    val rnd = new scala.util.Random(seed)
    for (i <- a.length - 1 to 1 by -1) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }
}
