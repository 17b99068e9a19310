package kgbench

import java.io.File
import org.apache.spark.sql.functions._
import graft.kg.Pipeline
import graft.kg.Schema.Page

/** Tests of the two corpus generators (run by kgbench/test_generators.py):
  *
  *  1. a fixed seed gives byte-identical pages, single-threaded and through
  *     Spark, and another seed gives other pages;
  *  2. a small vocab corpus, built end to end, yields ambiguous acronyms,
  *     name-blocking edges and at least 10⁴ nodes.
  *
  *   kgbench.GenCheck --work <dir>
  *
  * Prints one line per check and exits non-zero on the first failure. */
object GenCheck {

  private def check(name: String)(ok: => Boolean): Unit = {
    val pass = try ok catch { case e: Throwable => System.err.println(e); false }
    println(s"${if (pass) "ok  " else "FAIL"} $name")
    if (!pass) sys.exit(1)
  }

  def main(args: Array[String]): Unit = {
    val work = new File(args.sliding(2).collectFirst { case Array("--work", d) => d }
      .getOrElse(sys.error("--work <dir> is required"))).getAbsolutePath
    val spark = Main.newSession(2, work)
    import spark.implicits._
    def hashes(ps: org.apache.spark.sql.Dataset[Page]): Vector[Long] =
      ps.collect().map(Corpora.pageHash).sorted.toVector

    check("papers: same seed, byte-identical pages (single-threaded)") {
      (0L until 50L).forall(i => Corpora.pageHash(Corpora.paperPage(Corpora.papersBase(7) + i)) ==
        Corpora.pageHash(Corpora.paperPage(Corpora.papersBase(7) + i)))
    }
    check("papers: same seed, byte-identical pages (Spark vs single-threaded)") {
      hashes(Corpora.papers(spark, 7, 200)) ==
        (0L until 200L).map(i => Corpora.pageHash(Corpora.paperPage(Corpora.papersBase(7) + i))).sorted
    }
    check("papers: another seed, other pages") {
      hashes(Corpora.papers(spark, 7, 200)).toSet
        .intersect(hashes(Corpora.papers(spark, 8, 200)).toSet).isEmpty
    }
    check("vocab: same seed, byte-identical pages (Spark vs single-threaded)") {
      hashes(Corpora.vocab(spark, 7, 300)) ==
        (0L until 300L).map(i => Corpora.pageHash(Corpora.vocabPage(7, i))).sorted
    }
    check("vocab: another seed, other pages") {
      hashes(Corpora.vocab(spark, 7, 300)).toSet.intersect(hashes(Corpora.vocab(spark, 8, 300)).toSet).isEmpty
    }

    // a 600-doc vocab corpus through the real pipeline
    val dir = s"$work/vocab"
    Corpora.vocab(spark, 7, 600).write.parquet(s"$dir/pages")
    Pipeline.run(spark, spark.read.parquet(s"$dir/pages").as[Page], Pipeline.Config(s"$dir/build", resume = false))
    val linked = spark.read.parquet(s"$dir/build/linked_mentions")
    check("vocab: ≥10⁴ distinct concept phrases") {
      val n = linked.where(col("kind") === "concept").select("entity_key").distinct().count()
      println(s"     concept phrases: $n"); n >= 10000
    }
    check("vocab: acronyms whose initials are shared by ≥2 expansions") {
      val triples = spark.read.parquet(s"$dir/build/triples").as[graft.kg.Schema.Triple]
      val amb = graft.kg.EntityLinking.splitAmbiguity(
        graft.kg.EntityLinking.urlAliasPairs(spark, triples))._2.select("acr_key").distinct().count()
      println(s"     ambiguous acronyms: $amb"); amb > 0
    }
    check("vocab: name-blocking edges (plural and spelling variants)") {
      val n = graft.kg.EntityLinking.nameSimilarityEdges(
        linked.where(col("kind") === "concept").select("entity_key")).count()
      println(s"     name-blocking edges: $n"); n > 0
    }
    check("vocab: ≥10⁴ nodes") {
      val n = spark.read.parquet(s"$dir/build/nodes").count()
      println(s"     nodes: $n"); n >= 10000
    }
    check("vocab: a head concept is Zipf-hot (in ≥10% of docs)") {
      val top = linked.groupBy("entity_key").agg(countDistinct("url").as("n"))
        .agg(max("n")).first().getLong(0)
      println(s"     hottest entity docs: $top / 600"); top >= 60
    }
    spark.stop()
  }
}
