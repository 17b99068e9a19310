package kgbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.kg.{Eval, Pipeline, RefText}
import graft.kg.Schema.Page

/** Output checks run after every operation. A failed check throws; the
  * caller counts the operation as failed and never as a timing. */
object Checks {

  final class Mismatch(msg: String) extends RuntimeException(msg)
  def require(ok: Boolean, msg: => String): Unit = if (!ok) throw new Mismatch(msg)

  /** Seeded sample of pages, regenerated in this process. */
  def sample(seed: Long, nDocs: Long, n: Int, page: Long => Page): Vector[Page] =
    (0 until n).map(i => math.floorMod(Corpora.mix(seed * 31 + i), nDocs))
      .distinct.map(page).toVector

  /** The sample's clean text and triples in the build output equal the
    * single-threaded kernels: clean_text byte-identical, triple P/R 1.0. */
  def sampleMatches(spark: SparkSession, pages: Vector[Page],
      cleanDocs: Option[DataFrame], triples: DataFrame): Unit = {
    import spark.implicits._
    val urls = pages.map(_.url)
    cleanDocs.foreach { docs =>
      val got = docs.where(col("url").isin(urls: _*)).select("url", "clean_text")
        .as[(String, String)].collect().toMap
      for (p <- pages) {
        val want = RefText.cleanText(Pipeline.rawText(p))
        require(got.get(p.url).contains(want), s"clean_text differs from RefText.cleanText for ${p.url}")
      }
    }
    val gold = pages.flatMap(p => Pipeline.triplesForDoc(p.url, Pipeline.rawText(p)))
      .map(t => (t.url, t.pred, t.obj)).toDF("url", "pred", "obj")
    val got = triples.where(col("url").isin(urls: _*)).select("url", "pred", "obj")
    val pr = Eval.triplePR(got, gold).first()
    require(pr.getAs[Long]("precision_ppm") == 1000000L && pr.getAs[Long]("recall_ppm") == 1000000L,
      s"triple P/R against Pipeline.triplesForDoc is not 1.0: $pr")
  }

  /** Hash of the nodes and edges tables a build wrote. */
  def graphHash(spark: SparkSession, nodes: String, edges: String): String =
    contentHash(spark.read.parquet(nodes)) + "/" + contentHash(spark.read.parquet(edges))

  /** Order-independent content hash of a table: (rows, xor, sum mod p)
    * of a per-row xxhash64 over every column in name order. */
  def contentHash(df: DataFrame): String = {
    val hc = xxhash64(df.columns.sorted.map(col).toIndexedSeq: _*)
    val r = df.agg(count(lit(1)), bit_xor(hc), sum(pmod(hc, lit(2147483647L)))).first()
    s"${r.getLong(0)}:${r.getLong(1)}:${r.get(2)}"
  }
}
