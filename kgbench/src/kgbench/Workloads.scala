package kgbench

import java.io.File
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.kg.Pipeline
import graft.kg.Schema.Page

/** One timed operation's outcome: what it built, and the wall of the
  * link → canonicalize fold inside it. */
final case class OpOut(docs: Long, triples: Long, mentions: Long, foldS: Double)

/** A workload: seeded inputs landed by `setup`, one closed-loop
  * operation `op`, and the output check run after every operation. */
abstract class Workload(val spark: SparkSession, val seed: Long) {
  import spark.implicits._
  def name: String
  def nDocs: Long
  def page(id: Long): Page
  /** Generates and lands the inputs under `dir` (one set-up repetition). */
  def setup(dir: String): Unit
  /** Untimed work between set-up and the first operation. */
  def prepare(): Unit = ()
  def op(): OpOut
  def check(): Unit
  /** Directory the operations write under; its bytes are the scratch. */
  def workDir: String

  var dir: String = _
  def pages: Dataset[Page] = pagesAt(dir)
  def pagesAt(d: String): Dataset[Page] = spark.read.parquet(s"$d/pages").as[Page]
  lazy val sample: Vector[Page] = Checks.sample(seed, nDocs, 16, page)

  protected def rmrf(path: String): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new File(path))
  /** Lands pages as a many-file table: file count is read parallelism. */
  protected def land(ds: Dataset[Page], path: String): Unit =
    ds.repartition(4 * spark.sparkContext.defaultParallelism).write.parquet(path)
  protected def read(path: String): DataFrame = spark.read.parquet(path)
  protected def rowsOf(r: Pipeline.Result, stage: String): Long =
    r.metrics.where(col("stage") === stage).select("rows").as[Long].collect().head

  protected def graphHash(nodes: String, edges: String): String =
    Checks.graphHash(spark, nodes, edges)
  private var mentions = -1L
  /** Linked mentions the build wrote: fixed per corpus, counted once. */
  protected def mentionCount(): Long = {
    if (mentions < 0) mentions = read(s"$workDir/linked_mentions").count()
    mentions
  }

  private var firstHash: String = _
  /** Every operation of a run must build the same graph. */
  protected def sameGraphAsFirst(h: String): Unit = {
    if (firstHash == null) firstHash = h
    Checks.require(h == firstHash, s"nodes/edges hash $h differs from the run's first operation $firstHash")
  }
}

object Workloads {
  def apply(name: String, spark: SparkSession, seed: Long): Workload = name match {
    case "papers_build" => new PapersBuild(spark, seed)
    case "vocab_relink" => new VocabRelink(spark, seed)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }
}

/** Full `Pipeline.run(resume = false)` over a seeded PagesGen corpus. */
final class PapersBuild(spark0: SparkSession, seed0: Long)
    extends Workload(spark0, seed0) {
  val name = "papers_build"
  val nDocs = 2000L
  def page(i: Long): Page = Corpora.paperPage(Corpora.papersBase(seed) + i)
  def workDir: String = s"$dir/build"

  def setup(d: String): Unit = land(Corpora.papers(spark, seed, nDocs), s"$d/pages")

  /** Warm-up: one untimed build, so the timed operations run
    * JIT-compiled kernels and planner code. */
  override def prepare(): Unit = op()

  def op(): OpOut = {
    val t0 = System.currentTimeMillis()
    val r = Pipeline.run(spark, pages, Pipeline.Config(workDir, resume = false))
    val t1 = System.currentTimeMillis()
    // the fold starts once both extraction outputs have committed
    val extracted = Seq("clean_docs", "triples")
      .map(s => new File(s"$workDir/$s/_SUCCESS").lastModified()).max
    OpOut(nDocs, rowsOf(r, "triples_rows"), mentionCount(), (t1 - math.max(t0, extracted)) / 1e3)
  }

  def check(): Unit = {
    Checks.sampleMatches(spark, sample, Some(read(s"$workDir/clean_docs")), read(s"$workDir/triples"))
    sameGraphAsFirst(graphHash(s"$workDir/nodes", s"$workDir/edges"))
  }
}

/** A long-tail vocabulary corpus, built once after set-up (that build is
  * also the warm-up); each operation drops the linking and
  * canonicalization outputs and resumes the build, so only
  * link → block → CC → materialize run and extraction does no work. */
final class VocabRelink(spark0: SparkSession, seed0: Long)
    extends Workload(spark0, seed0) {
  val name = "vocab_relink"
  val nDocs = 700L
  def page(i: Long): Page = Corpora.vocabPage(seed, i)
  def workDir: String = s"$dir/build"

  def setup(d: String): Unit = land(Corpora.vocab(spark, seed, nDocs), s"$d/pages")

  private var setupHash: String = _
  private var triples = -1L
  override def prepare(): Unit = {
    Pipeline.run(spark, pages, Pipeline.Config(workDir, resume = false))
    setupHash = graphHash(s"$workDir/nodes", s"$workDir/edges")
    triples = read(s"$workDir/triples").count()
  }

  def op(): OpOut = {
    for (s <- Seq("alias_edges", "linked_mentions", "nodes", "edges")) rmrf(s"$workDir/$s")
    val t0 = System.nanoTime()
    Pipeline.run(spark, pages, Pipeline.Config(workDir, resume = true))
    val wall = (System.nanoTime() - t0) / 1e9
    OpOut(nDocs, triples, mentionCount(), wall)
  }

  def check(): Unit = {
    Checks.sampleMatches(spark, sample, Some(read(s"$workDir/clean_docs")), read(s"$workDir/triples"))
    val h = graphHash(s"$workDir/nodes", s"$workDir/edges")
    Checks.require(h == setupHash, s"resumed nodes/edges hash $h differs from the first build's $setupHash")
  }
}
