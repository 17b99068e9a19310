package kgbench

import java.io.File
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.kg.{ConnectedComponents, EntityLinking, Pipeline, RefAnalyzers, RefText, StreamingPipeline}
import graft.kg.Schema.{LinkedMention, Page, Triple}
import graft.ops.Dedup

/** The traced run: calls each layer's public functions in sequence on
  * the workload's inputs, materializes each, and wraps every call in a
  * span with its own job description. Spans stay in memory and are
  * written as JSON at the end, with the listener sums of each span. */
object Trace {

  final case class Span(name: String, parent: String, t0: Long, t1: Long, wallS: Double,
      sums: Probe.Sums, counts: Seq[(String, Double)])

  /** Layers whose spans the operation's own work consists of. */
  private def opLayers(workload: String): Seq[String] = workload match {
    case "vocab_relink" => Seq("link", "block", "cc", "materialize")
    case _ => Seq("extract", "triples", "link", "block", "cc", "materialize")
  }

  def run(spark: SparkSession, probe: Probe, w: Workload, opWall: Double, opSums: Probe.Sums,
      out: Option[String]): Seq[(String, Double, String)] = {
    import spark.implicits._
    val spans = ArrayBuffer.empty[Span]
    val base = s"${w.dir}/trace"
    val sc = spark.sparkContext

    def span[T](name: String, parent: String)(body: => T): T = {
      sc.setJobDescription(s"kgbench:$name")
      val t0ms = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val r = try body finally sc.setJobDescription(null)
      val wall = (System.nanoTime() - t0) / 1e9
      val t1ms = System.currentTimeMillis()
      spans += Span(name, parent, t0ms, t1ms, wall, probe.window(spark, t0ms, t1ms), Nil)
      r
    }
    // counts measured at a span's boundary, attached to the latest span
    def note(kvs: (String, Double)*): Unit = spans(spans.size - 1) = spans.last.copy(counts = kvs)
    def read(p: String): DataFrame = spark.read.parquet(s"$base/$p")
    def write(df: DataFrame, p: String): Unit = df.write.parquet(s"$base/$p")

    // ---- kernel layer: single-threaded, µs per doc over a seeded sample
    val sample = Checks.sample(w.seed, w.nDocs, 64, w.page)
      .map(p => (p.url, Pipeline.rawText(p)))
    def kernel(name: String, f: (String, String) => Any): (String, Double, String) = {
      val passes = span(s"kernel.$name", "kernel") {
        (0 until 6).map { _ =>
          val t0 = System.nanoTime()
          sample.foreach { case (u, raw) => f(u, raw) }
          (System.nanoTime() - t0) / 1e3 / sample.size
        }
      }
      (s"kernel.${name}_us", Main.median(passes.drop(1)), "us")
    }
    val kernels = Seq(
      kernel("clean", (_, raw) => RefText.cleanText(raw)),
      kernel("triples", (u, raw) => Pipeline.triplesForDoc(u, raw)),
      kernel("metadata", (_, raw) => RefAnalyzers.extractMetadata(raw)),
      kernel("sections", (_, raw) => RefAnalyzers.extractSections(raw)),
      kernel("figures", (_, raw) => RefAnalyzers.extractFigureRefs(raw)),
      kernel("terms", (_, raw) => RefAnalyzers.extractTechnicalTerms(raw)),
      kernel("equations", (_, raw) => RefAnalyzers.extractEquations(raw)),
      kernel("keywords_summary", (_, raw) => {
        val fixed = RefAnalyzers.analyzerFixReversed(raw)
        (RefAnalyzers.keywordsOfFixed(fixed), RefAnalyzers.summaryOfFixed(fixed))
      }))

    // ---- extract / triples
    val pages = w.pages
    span("extract", "trace") {
      write(Pipeline.extractClean(spark, pages, sc.defaultParallelism).toDF(), "clean_docs")
    }
    val triplesRows = span("triples", "trace") {
      write(Pipeline.triplesFromPages(spark, pages).toDF(), "triples")
      read("triples").count()
    }
    note("rows_out" -> triplesRows.toDouble)
    val triples = read("triples").as[Triple]

    // ---- link
    val mentions = span("link", "trace") {
      val r = EntityLinking.resolve(spark, triples)
      write(r.aliasEdges, "alias_edges")
      write(r.linked.toDF(), "linked_mentions")
      r.unpersistCached()
      read("linked_mentions").count()
    }
    note("mentions_in" -> mentions.toDouble)
    val ambiguous = span("link.ambiguity", "link") {
      EntityLinking.splitAmbiguity(EntityLinking.urlAliasPairs(spark, triples))._2
        .select("acr_key").distinct().count()
    }
    note("ambiguous_acronyms" -> ambiguous.toDouble)
    val linked = read("linked_mentions").as[LinkedMention]
    val alias = read("alias_edges")

    // ---- block: the CC input graph is alias edges ∪ name-blocking edges
    val (graphRows, aliasRows) = span("block", "trace") {
      write(Pipeline.ccEdges(linked.toDF(), alias), "cc_graph")
      (read("cc_graph").count(), alias.count())
    }
    val verified = graphRows - aliasRows
    note("verified_edges" -> verified.toDouble)
    // the candidate pairs name-blocking verifies, with
    // EntityLinking.nameSimilarityEdges' default banding (8 hashes, 2 rows
    // per band, char-4 shingles)
    val (keysIn, candidates) = span("block.candidates", "block") {
      val named = linked.toDF().where(col("kind") === "concept").select(col("entity_key")).distinct()
      val sigs = Dedup.minhashShingles(named, "entity_key", "entity_key", 8, 4)
      val pairs = Dedup.candidatePairs(Dedup.minhashBands(sigs, "entity_key", 2), "entity_key",
        metricName = "kgbench_buckets")
      (named.count(), pairs.count())
    }
    note("keys_in" -> keysIn.toDouble, "candidate_pairs" -> candidates.toDouble)

    // ---- cc
    val graph = read("cc_graph")
    val (rounds, components) = span("cc", "trace") {
      val (labels, rounds) = ConnectedComponents.runWithStats(spark, graph,
        driverSolveThreshold = ConnectedComponents.driverEdgeBudget())
      write(labels, "cc_labels")
      (rounds, read("cc_labels").select("component").distinct().count())
    }
    note("rounds" -> rounds.toDouble, "components" -> components.toDouble)

    // ---- materialize: canonicalize plus the nodes/edges writes
    val (nodes, edges) = span("materialize", "trace") {
      val c = Pipeline.canonicalize(spark, linked, alias, preGraph = Some(graph))
      write(c.nodes, "nodes")
      write(c.edges, "edges")
      c.unpersistCached()
      (read("nodes").count(), read("edges").count())
    }
    note("nodes" -> nodes.toDouble, "edges" -> edges.toDouble)

    // ---- stream: the same pages landed as 4 files, read one file per
    // trigger; folds at batches 1 (exact) and 3 (seeded), exact fold at drain
    pages.repartition(4).write.parquet(s"$base/stream_pages")
    val streamDir = s"$base/stream"
    val streamDs = spark.readStream.schema(StreamingPipeline.pageSchema)
      .option("maxFilesPerTrigger", "1").parquet(s"$base/stream_pages").as[Page]
    span("stream", "trace") {
      StreamingPipeline.runIncremental(spark, streamDs, streamDir, recanonEvery = 2)
    }
    val st = spans.last
    val batches = st.sums.batches
    val (foldB, extractB) = batches.partition(b => (b.id + 1) % 2 == 0)
    val lastEnd = batches.map(b => b.startMs + b.triggerMs).maxOption.getOrElse(st.t0)
    val drainS = math.max(0L, st.t1 - lastEnd) / 1e3
    spans += Span("stream.drain_fold", "stream", lastEnd, st.t1, drainS,
      probe.window(spark, lastEnd, st.t1), Nil)
    batches.foreach { b =>
      spans += Span(s"stream.batch${b.id}", "stream", b.startMs, b.startMs + b.triggerMs,
        b.triggerMs / 1e3, probe.window(spark, b.startMs, b.startMs + b.triggerMs),
        Seq("rows" -> b.rows.toDouble))
    }
    val linkStageMb = Main.bytesUnder(new File(s"$streamDir/link_stage")) / 1048576.0

    def s(name: String): Span = spans.find(_.name == name).get
    // coverage: the spans of the layers the untraced operation runs
    val covered = opLayers(w.name).map(s(_).wallS).sum

    // the traced layers and the stream must build the operation's graph
    val opGraph = Checks.graphHash(spark, s"${w.workDir}/nodes", s"${w.workDir}/edges")
    val tracedGraph = Checks.graphHash(spark, s"$base/nodes", s"$base/edges")
    Checks.require(tracedGraph == opGraph,
      s"traced layers built nodes/edges $tracedGraph, the operation $opGraph")
    val streamGraph = Checks.graphHash(spark, s"$streamDir/nodes_stream", s"$streamDir/edges_stream")
    Checks.require(streamGraph == opGraph,
      s"nodes_stream/edges_stream $streamGraph differ from the batch build's $opGraph")

    val metrics = kernels ++ Seq(
      ("extract.wall_s", s("extract").wallS, "s"),
      ("extract.cpu_s", s("extract").sums.cpuS, "s"),
      ("triples.wall_s", s("triples").wallS, "s"),
      ("triples.cpu_s", s("triples").sums.cpuS, "s"),
      ("triples.rows_out", triplesRows.toDouble, "count"),
      ("link.wall_s", s("link").wallS, "s"),
      ("link.cpu_s", s("link").sums.cpuS, "s"),
      ("link.shuffle_mb", s("link").sums.shuffleWriteMb, "MB"),
      ("link.mentions_in", mentions.toDouble, "count"),
      ("link.ambiguous_acronyms", ambiguous.toDouble, "count"),
      ("block.wall_s", s("block").wallS, "s"),
      ("block.keys_in", keysIn.toDouble, "count"),
      ("block.candidate_pairs", candidates.toDouble, "count"),
      ("block.verified_edges", verified.toDouble, "count"),
      ("block.precision", if (candidates > 0) verified.toDouble / candidates else 0.0, "ratio"),
      ("cc.wall_s", s("cc").wallS, "s"),
      ("cc.edges_in", graphRows.toDouble, "count"),
      ("cc.rounds", rounds.toDouble, "count"),
      ("cc.components", components.toDouble, "count"),
      ("materialize.wall_s", s("materialize").wallS, "s"),
      ("materialize.shuffle_mb", s("materialize").sums.shuffleWriteMb, "MB"),
      ("materialize.spill_mb", s("materialize").sums.spillMb, "MB"),
      ("materialize.nodes", nodes.toDouble, "count"),
      ("materialize.edges", edges.toDouble, "count"),
      ("stream.extract_batch_s", Main.median(extractB.map(_.triggerMs / 1e3)), "s"),
      ("stream.fold_batch_s", Main.median(foldB.map(_.triggerMs / 1e3)), "s"),
      ("stream.drain_fold_s", drainS, "s"),
      ("stream.link_stage_mb", linkStageMb, "MB"),
      ("spark.jobs", opSums.jobs.toDouble, "count"),
      ("spark.stages", opSums.stages.toDouble, "count"),
      ("spark.tasks", opSums.tasks.toDouble, "count"),
      ("spark.planning_ms", opSums.planningMs, "ms"),
      ("spark.task_skew", opSums.taskSkew, "ratio"),
      ("spark.gc_s", opSums.gcS, "s"),
      ("spark.heap_after_gc_mb", opSums.heapAfterGcMb, "MB"),
      ("trace.op_wall_s", opWall, "s"),
      ("trace.span_sum_s", covered, "s"),
      ("trace.span_coverage", covered / opWall, "ratio"))

    out.foreach { path =>
      val f = new File(path)
      f.getParentFile.mkdirs()
      val doc = Json.obj(Seq(
        "workload" -> w.name, "seed" -> w.seed, "op_wall_s" -> opWall,
        "op_sums" -> Json.Raw(opSums.json),
        "coverage_layers" -> opLayers(w.name),
        "spans" -> spans.map(sp => Json.Raw(Json.obj(Seq(
          "name" -> sp.name, "parent" -> sp.parent, "start_ms" -> sp.t0, "end_ms" -> sp.t1,
          "wall_s" -> sp.wallS, "sums" -> Json.Raw(sp.sums.json), "counts" -> sp.counts.toMap)))),
        "metrics" -> metrics.map { case (k, v, u) => k -> Json.Raw(Json.obj(Seq("value" -> v, "unit" -> u))) }.toMap))
      java.nio.file.Files.write(f.toPath, doc.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    metrics
  }
}
