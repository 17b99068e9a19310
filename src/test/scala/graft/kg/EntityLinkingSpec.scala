package graft.kg

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.kg.Schema.{LinkedMention, Triple}
import graft.ops.Dedup

/** Entity linking and name blocking against the formulation they
  * replaced: `LegacyLinking` below is that formulation, kept unchanged
  * as the oracle. Outputs must be equal multisets. */
class EntityLinkingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Sorted rows of a table, columns in name order: a multiset. */
  private def rows(df: DataFrame): Seq[String] =
    df.select(df.columns.sorted.map(col).toIndexedSeq: _*).collect().map(_.mkString("|")).toSeq.sorted

  /** Triples landed as parquet and read back, as Pipeline.run reads them. */
  private def landed(ts: Dataset[Triple]): Dataset[Triple] = {
    val dir = Files.createTempDirectory("linking").toString + "/triples"
    ts.write.parquet(dir)
    spark.read.parquet(dir).as[Triple]
  }

  private def ambiguousAcronyms(triples: Dataset[Triple]): Set[String] =
    LegacyLinking.splitAmbiguity(LegacyLinking.urlAliasPairs(spark, triples))._2
      .select("acr_key").as[String].collect().toSet

  private def assertSameLinking(triples: Dataset[Triple]): Seq[LinkedMention] = {
    val got = EntityLinking.resolve(spark, triples)
    val want = LegacyLinking.resolve(spark, triples)
    try {
      assert(rows(got.aliasEdges) == rows(want.aliasEdges), "alias edges differ")
      assert(rows(got.linked.toDF()) == rows(want.linked.toDF()), "linked mentions differ")
      got.linked.collect().toSeq
    } finally {
      got.unpersistCached()
      want.unpersistCached()
    }
  }

  private def mention(url: String, obj: String, kind: String): Triple =
    Triple(url, "mentionsEntity", obj, kind, obj, s"... $obj ...", 2)
  private def keyword(url: String, kw: String): Triple =
    Triple(url, "hasKeyword", kw, "keyword", kw, "", 1)

  test("linking equals the legacy formulation on PagesGen") {
    val triples = landed(Pipeline.triplesFromPages(spark, PagesGen.pages(spark, 60L)))
    assert(ambiguousAcronyms(triples).contains("cnn"))
    assertSameLinking(triples)
  }

  test("linking equals the legacy formulation with no ambiguous acronym") {
    val triples = landed(Seq(
      mention("u1", "SGD", "acronym"), mention("u1", "Stochastic Gradient Descent", "concept"),
      mention("u1", "Graph Neural Network", "concept"), mention("u1", "self-attention", "technique"),
      keyword("u1", "optimization"), Triple("u1", "hasTitle", "A Title", "attr", "A Title", "", 1),
      mention("u2", "GNN", "acronym"), mention("u2", "Graph Neural Network", "concept"),
      mention("u2", "message passing", "concept"), keyword("u2", "graphs"),
      mention("u3", "SGD", "acronym"), mention("u3", "Stochastic gradient descent", "concept"),
      keyword("u3", "optimization")).toDS())
    assert(ambiguousAcronyms(triples).isEmpty)
    val linked = assertSameLinking(triples)
    assert(linked.size == 9)
  }

  test("linking equals the legacy formulation when context scores tie") {
    val triples = landed(Seq(
      // u1 and u2 define the two CNN expansions and their keyword profiles
      mention("u1", "CNN", "acronym"), mention("u1", "Convolutional Neural Network", "concept"),
      keyword("u1", "vision"), keyword("u1", "images"),
      mention("u2", "CNN", "acronym"), mention("u2", "Cable News Network", "concept"),
      keyword("u2", "vision"),
      // one shared keyword each: a tie, broken lexicographically
      mention("u3", "CNN", "acronym"), keyword("u3", "vision"),
      // no keywords: a tie at zero
      mention("u4", "CNN", "acronym"),
      // two keywords of the convolutional profile against one
      mention("u5", "CNN", "acronym"), keyword("u5", "vision"), keyword("u5", "images")).toDS())
    assert(ambiguousAcronyms(triples) == Set("cnn"))
    val linked = assertSameLinking(triples)
    val cnn = linked.filter(_.kind == "acronym").map(m => m.url -> m.entity_key).toMap
    assert(cnn == Map(
      "u1" -> "convolutional neural network", "u2" -> "cable news network",
      "u3" -> "cable news network", "u4" -> "cable news network",
      "u5" -> "convolutional neural network"))
  }

  // keys shorter than the shingle length, non-ASCII and surrogate-pair
  // keys, and keys with identical shingle sets ("aaaa" ~ "aaaaa",
  // "abcabc" ~ "bcabca" at n = 4)
  private val nameKeys = Seq("ab", "abc", "abcd", "abcde", "naïve bayes", "naive bayes",
    "naïve bayes classifier", "straße", "strasse", "你好世界模型", "你好世界模型们",
    "\uD835\uDD18\uD835\uDD2B\uD835\uDD26 model", "\uD835\uDD18\uD835\uDD2B\uD835\uDD26 models",
    "\uD83D\uDE00\uD83D\uDE00\uD83D\uDE00\uD83D\uDE00",
    "\uD83D\uDE00\uD83D\uDE00\uD83D\uDE00\uD83D\uDE00\uD83D\uDE00",
    "aaaa", "aaaaa", "abcabc", "bcabca", "convolutional neural network",
    "convolutional neural networks")

  test("array Jaccard equals Dedup.jaccardVerify on every key pair") {
    val keys = nameKeys.toDF("entity_key")
    val pairs = keys.select(col("entity_key").as("id1"))
      .crossJoin(keys.select(col("entity_key").as("id2")))
      .where(col("id1") < col("id2"))
    val verified = Dedup.jaccardVerify(pairs,
      Dedup.charShingles(keys, "entity_key", "entity_key", 4).withColumnRenamed("shingle", "token"),
      "entity_key").as[(String, String, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    val sh = keys.select(col("entity_key"), Dedup.shingleArray("entity_key", 4).as("sh"))
    val exact = pairs
      .join(sh.select(col("entity_key").as("id1"), col("sh").as("sh1")), Seq("id1"))
      .join(sh.select(col("entity_key").as("id2"), col("sh").as("sh2")), Seq("id2"))
      .select(col("id1"), col("id2"), Dedup.arrayJaccard(col("sh1"), col("sh2")))
      .as[(String, String, Double)].collect()
    assert(exact.length == nameKeys.size * (nameKeys.size - 1) / 2)
    for ((a, b, j) <- exact)
      // jaccardVerify emits only pairs sharing a shingle
      assert(j == verified.getOrElse((a, b), 0.0), s"($a, $b)")
    assert(verified(("aaaa", "aaaaa")) == 1.0 && verified(("abcabc", "bcabca")) == 1.0)
  }

  test("name blocking equals the legacy formulation") {
    val keys = nameKeys.toDF("entity_key")
    val got = EntityLinking.nameSimilarityEdges(keys).as[(String, String)].collect().toSet
    val want = LegacyLinking.nameSimilarityEdges(keys).as[(String, String)].collect().toSet
    assert(got == want)
    assert(got.contains(("aaaa", "aaaaa")) &&
      got.contains(("convolutional neural network", "convolutional neural networks")), got)
  }
}

/** The linking and name-blocking formulation `EntityLinking` replaced,
  * verbatim: a typed-lambda pass over `triples` per consumer, a
  * count-then-join ambiguity split, an `isEmpty` shortcut, and
  * hashed-token `Dedup.jaccardVerify`. The oracle for EntityLinkingSpec. */
object LegacyLinking {
  /** Per-url (acr_key, exp_key) candidate pairs — NOT distinct'd, the
    * per-url grain carries the local-co-occurrence signal. */
  def urlAliasPairs(spark: SparkSession, triples: Dataset[Triple]): DataFrame = {
    import spark.implicits._
    val ents = triples
      .filter(t => t.pred == "mentionsEntity" && (t.kind == "acronym" || t.kind == "concept"))
      .map(t => (t.url, t.obj, t.kind))
    ents.groupByKey(_._1)
      .flatMapGroups { (url, it) =>
        val ms = it.toVector
        val acronyms = ms.filter(_._3 == "acronym").map(_._2).distinct
        val phrases = ms.filter(_._3 == "concept").map(_._2).distinct
        for {
          a <- acronyms
          p <- phrases
          if EntityLinking.initialsOf(p) == a
        } yield (url, Py.lower(a), Py.lower(p))
      }
      .toDF("url", "acr_key", "exp_key")
  }

  def nameSimilarityEdges(keys: DataFrame, shingleN: Int = 4,
      nHashes: Int = 8, rowsPerBand: Int = 2, minJaccard: Double = 0.7): DataFrame = {
    import graft.ops.Dedup
    val named = keys.select(col("entity_key")).distinct()
    val sigs = Dedup.minhashShingles(named, "entity_key", "entity_key", nHashes, shingleN)
    // distinct metric name: this candidate pass may share a plan with a
    // dedup-side candidatePairs, and observed-metric names must be
    // unique per query
    val pairs = Dedup.candidatePairs(Dedup.minhashBands(sigs, "entity_key", rowsPerBand),
      "entity_key", metricName = "namesim_buckets")
    val sh = Dedup.charShingles(named, "entity_key", "entity_key", shingleN)
      .withColumnRenamed("shingle", "token")
    Dedup.jaccardVerify(pairs, sh, "entity_key")
      .where(col("jaccard") >= minJaccard)
      .select(col("id1").as("key_a"), col("id2").as("key_b"))
  }

  /** (unambiguousEdges(key_a,key_b), ambiguousCandidates(acr_key,exp_key)) */
  def splitAmbiguity(pairs: DataFrame): (DataFrame, DataFrame) = {
    val global = pairs.select(col("acr_key"), col("exp_key")).distinct()
    val counts = global.groupBy(col("acr_key")).agg(count(lit(1)).as("n_exp"))
    val unambiguous = global.join(counts.where(col("n_exp") === 1), Seq("acr_key"))
      .select(col("acr_key").as("key_a"), col("exp_key").as("key_b"))
    val ambiguous = global.join(counts.where(col("n_exp") > 1), Seq("acr_key"))
      .select(col("acr_key"), col("exp_key"))
    (unambiguous, ambiguous)
  }

  /** Global keyword profile per expansion: top-20 keywords (by url count,
    * ties lexicographic) across urls that mention the expansion phrase. */
  def expansionProfiles(spark: SparkSession, triples: Dataset[Triple], expansions: DataFrame): DataFrame = {
    import spark.implicits._
    val expMentions = triples
      .filter(t => t.pred == "mentionsEntity" && t.kind == "concept")
      .map(t => (t.url, Py.lower(t.obj)))
      .toDF("url", "exp_key")
      .join(expansions.select(col("exp_key")).distinct(), Seq("exp_key"))
      .distinct()
    val urlKw = triples.filter(_.pred == "hasKeyword").map(t => (t.url, t.obj)).toDF("url", "kw")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("exp_key")).orderBy(col("n").desc, col("kw").asc)
    expMentions.join(urlKw, Seq("url"))
      .groupBy(col("exp_key"), col("kw")).agg(count(lit(1)).as("n"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 20)
      .select(col("exp_key"), col("kw"))
  }

  /** Resolve every mention to an entity key: non-acronym mentions and
    * unambiguous acronyms keep their own key (CC merges the latter via
    * alias edges); ambiguous acronyms are resolved per url. */
  def resolve(spark: SparkSession, triples: Dataset[Triple]): EntityLinking.Resolved = {
    import spark.implicits._
    // both returned plans (alias edges AND resolved mentions) hang off
    // this groupByKey shuffle; persisted so the caller's two stage writes
    // (run concurrently in Pipeline.run) compute it once, not three times
    // (isEmpty probe + each write). The handle is returned in `cached`
    // for the caller to drop after checkpointing.
    val pairs = urlAliasPairs(spark, triples)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (unambiguous, ambiguous) = splitAmbiguity(pairs)
    val mentions = triples
      .filter(_.pred == "mentionsEntity")
      .map(t => LinkedMention(t.url, t.pred, Py.lower(t.obj), t.surface, t.kind, t.weight))

    if (ambiguous.isEmpty) return EntityLinking.Resolved(unambiguous, mentions, Seq(pairs))

    val profiles = expansionProfiles(spark, triples, ambiguous)
    val urlKw = triples.filter(_.pred == "hasKeyword").map(t => (t.url, t.obj)).toDF("url", "kw")

    // candidate grid: every ambiguous-acronym mention × its expansions.
    // No forced broadcast hints anywhere in linking: the ambiguous/profile
    // tables are usually vocabulary-sized, but at 10^12 pages "usually"
    // is not a guarantee — a forced hint OOMs when it's wrong, while AQE
    // promotes small sides to broadcast at runtime from observed sizes.
    val ambMentions = mentions.toDF()
      .join(ambiguous.select(col("acr_key")).distinct(),
        col("entity_key") === col("acr_key"))
    val grid = ambMentions
      .join(ambiguous, Seq("acr_key"))

    // context score: |url keywords ∩ expansion profile|
    val overlap = urlKw
      .join(profiles, Seq("kw"))
      .groupBy(col("url"), col("exp_key")).agg(count(lit(1)).as("ctx_score"))

    // local bonus: the url itself contains this expansion phrase
    val localPairs = pairs.select(col("url"), col("acr_key"), col("exp_key"))
      .distinct().withColumn("local", lit(1000000L))

    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("url"), col("acr_key"), col("surface"))
      .orderBy(col("score").desc, col("exp_key").asc)
    val resolved = grid
      .join(overlap, Seq("url", "exp_key"), "left")
      .join(localPairs, Seq("url", "acr_key", "exp_key"), "left")
      .withColumn("score", coalesce(col("ctx_score"), lit(0L)) + coalesce(col("local"), lit(0L)))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("url"), col("pred"), col("exp_key").as("entity_key"),
        col("surface"), col("kind"), col("weight"))
      .as[LinkedMention]

    // NB: joins reorder columns and Dataset.union is positional — select
    // the canonical column order on both sides before unioning
    val cols = Seq("url", "pred", "entity_key", "surface", "kind", "weight").map(col)
    val untouched = mentions.toDF()
      .join(ambiguous.select(col("acr_key").as("entity_key")).distinct(),
        Seq("entity_key"), "left_anti")
      .select(cols: _*)

    EntityLinking.Resolved(unambiguous,
      untouched.union(resolved.toDF().select(cols: _*)).as[LinkedMention],
      Seq(pairs))
  }
}
