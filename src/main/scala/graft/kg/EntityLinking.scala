package graft.kg

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.kg.Schema.{LinkedMention, Triple}

/** Entity linking (north_star: "alias-table + context-similarity entity
  * linking"):
  *
  *  1. Alias discovery — within a url, acronym A pairs with phrase P when
  *     initials(P) == A (urlAliasPairs).
  *  2. Ambiguity split — an acronym whose global pair set holds MORE than
  *     one expansion ("CNN" → convolutional neural network / cable news
  *     network) must NOT become a global alias edge: connected components
  *     would wrongly unify both expansions through the shared acronym.
  *  3. Context-similarity resolution — each ambiguous acronym mention is
  *     resolved per url: candidates are scored by keyword overlap between
  *     the url's extracted keywords and the candidate expansion's global
  *     keyword profile (top keywords of urls that literally mention the
  *     expansion), with a local-co-occurrence bonus (the url containing
  *     the expansion itself decides instantly); ties break
  *     lexicographically. Deterministic.
  *
  * Shuffle shape: `resolve` reads `triples` ONCE, through a slim
  * projection (entity mentions and keywords, no `context`, Column
  * predicates that Parquet prunes and pushes down) persisted for its four
  * readers — alias discovery, mentions, expansion profiles and url
  * keywords. Alias discovery is the one per-url shuffle; the ambiguity
  * split is one per-acronym `collect_set` aggregate, persisted, from
  * which the alias edges, the ambiguous candidates and the ambiguous-key
  * set are narrow projections. Profiles and candidate tables are
  * entity-vocabulary-sized — small enough that AQE promotes them to
  * broadcast at runtime; no FORCED broadcast hints (at 10^12 pages the
  * vocabulary tables can outgrow driver memory, and a wrong hint OOMs
  * where AQE degrades to a shuffled join). Only the url-keyword join
  * necessarily shuffles, keyed by url (the natural partitioning).
  */
object EntityLinking {

  /** Acronym candidate of a phrase: first letter of each word, uppercased.
    * Word split is Python `str.split()` (Py.split — any whitespace incl.
    * NBSP that survives raw text), consistent with the Py.* semantics used
    * everywhere else. */
  def initialsOf(phrase: String): String =
    Py.split(phrase).map(w => Character.toUpperCase(w.charAt(0))).mkString

  /** Entity key of a mention: Python-exact lowercase (Py.lower), which
    * Spark's `lower` does not promise outside ASCII. */
  private val entityKey = udf((s: String) => Py.lower(s))

  /** The slice of `triples` linking reads: entity mentions and keywords,
    * every column but `context`. */
  private def linkingRows(triples: Dataset[Triple]): DataFrame =
    triples.toDF()
      .where(col("pred").isin("mentionsEntity", "hasKeyword"))
      .select(col("url"), col("pred"), col("obj"), col("kind"), col("surface"), col("weight"))

  /** Per-url (acr_key, exp_key) candidate pairs — NOT distinct'd, the
    * per-url grain carries the local-co-occurrence signal. */
  def urlAliasPairs(spark: SparkSession, triples: Dataset[Triple]): DataFrame =
    aliasPairs(spark, triples.toDF())

  /** `urlAliasPairs` over any rows with url, pred, obj and kind columns. */
  private def aliasPairs(spark: SparkSession, rows: DataFrame): DataFrame = {
    import spark.implicits._
    rows
      .where(col("pred") === "mentionsEntity" && col("kind").isin("acronym", "concept"))
      .select(col("url"), col("obj"), col("kind")).as[(String, String, String)]
      .groupByKey(_._1)
      .flatMapGroups { (url, it) =>
        val ms = it.toVector
        val acronyms = ms.filter(_._3 == "acronym").map(_._2).distinct
        val phrases = ms.filter(_._3 == "concept").map(_._2).distinct
        for {
          a <- acronyms
          p <- phrases
          if initialsOf(p) == a
        } yield (url, Py.lower(a), Py.lower(p))
      }
      .toDF("url", "acr_key", "exp_key")
  }

  /** MinHash-LSH blocking over entity NAMES (north_star: "canonicalization
    * via MinHash-LSH blocking plus iterative DataFrame connected-
    * components"): near-identical concept surface forms (plural/singular,
    * trailing punctuation, small typos) become alias edges for the CC.
    *
    * Shape is the scale path, never all-pairs: char-4 shingle MinHash
    * (narrow single-pass kernel, zero shuffle) → banded buckets →
    * candidate pairs → exact-Jaccard verification ≥ `minJaccard`. The
    * verifier builds ONE per-key array of distinct shingles and compares
    * each candidate's two arrays (`size(array_intersect)`) after two key
    * joins: exact shingle strings, no hashed proxy, candidates only. The
    * threshold is deliberately high (0.7): on the planted vocabularies the
    * closest DISTINCT pair ("convolutional..." vs "recurrent neural
    * network") sits at 0.375 while a plural variant sits at 0.958 — and
    * crucially the two CNN expansions ("cable news network", 0.24) can
    * never merge through it. Acronyms are excluded (too short for shingle
    * similarity; their linking is the initials+context machinery above).
    *
    * Input: any DataFrame with an `entity_key` column (concept keys).
    * Output: (key_a, key_b) with key_a < key_b. `minJaccard` > 0. */
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
    val sh = named.select(col("entity_key"), Dedup.shingleArray("entity_key", shingleN).as("sh"))
    pairs
      .join(sh.select(col("entity_key").as("id1"), col("sh").as("sh1")), Seq("id1"))
      .join(sh.select(col("entity_key").as("id2"), col("sh").as("sh2")), Seq("id2"))
      .where(Dedup.arrayJaccard(col("sh1"), col("sh2")) >= minJaccard)
      .select(col("id1").as("key_a"), col("id2").as("key_b"))
  }

  /** Per-acronym expansion set (acr_key, exps): the one aggregate every
    * half of the ambiguity split reads. */
  private def expansionSets(pairs: DataFrame): DataFrame =
    pairs.groupBy(col("acr_key")).agg(collect_set(col("exp_key")).as("exps"))

  private val ambiguousSet: Column = size(col("exps")) > 1

  /** (unambiguousEdges(key_a,key_b), ambiguousCandidates(acr_key,exp_key))
    * of an `expansionSets` table. */
  private def split(sets: DataFrame): (DataFrame, DataFrame) = (
    sets.where(!ambiguousSet)
      .select(col("acr_key").as("key_a"), col("exps").getItem(0).as("key_b")),
    sets.where(ambiguousSet)
      .select(col("acr_key"), explode(col("exps")).as("exp_key")))

  /** (unambiguousEdges(key_a,key_b), ambiguousCandidates(acr_key,exp_key)) */
  def splitAmbiguity(pairs: DataFrame): (DataFrame, DataFrame) = split(expansionSets(pairs))

  /** Global keyword profile per expansion: top-20 keywords (by url count,
    * ties lexicographic) across urls that mention the expansion phrase. */
  private def expansionProfiles(mentions: DataFrame, urlKw: DataFrame,
      expansions: DataFrame): DataFrame = {
    val expMentions = mentions
      .where(col("kind") === "concept")
      .select(col("url"), col("entity_key").as("exp_key"))
      .join(expansions.select(col("exp_key")).distinct(), Seq("exp_key"))
      .distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("exp_key")).orderBy(col("n").desc, col("kw").asc)
    expMentions.join(urlKw, Seq("url"))
      .groupBy(col("exp_key"), col("kw")).agg(count(lit(1)).as("n"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 20)
      .select(col("exp_key"), col("kw"))
  }

  /** resolve's outputs plus the exact DataFrames it persisted, so the
    * caller can `unpersist()` precisely those after checkpointing —
    * never a session-wide `clearCache()` that would wipe unrelated
    * caches a co-resident caller (Bench/Verify) holds. `cached` lists
    * dependents before what they read, the order to drop them in. */
  final case class Resolved(
      aliasEdges: DataFrame,
      linked: Dataset[LinkedMention],
      cached: Seq[DataFrame]) {
    def unpersistCached(): Unit = cached.foreach(_.unpersist(false))
  }

  /** Resolve every mention to an entity key: non-acronym mentions and
    * unambiguous acronyms keep their own key (CC merges the latter via
    * alias edges); ambiguous acronyms are resolved per url. With no
    * ambiguous acronym the resolution side is empty and every mention
    * passes through untouched. */
  def resolve(spark: SparkSession, triples: Dataset[Triple]): Resolved = {
    import spark.implicits._
    // three persists, each read by several plans: the caller's two stage
    // writes (run concurrently in Pipeline.run) and, within them, the
    // mention, profile and keyword branches. Handles are returned in
    // `cached` for the caller to drop after checkpointing.
    val rows = linkingRows(triples).persist(StorageLevel.MEMORY_AND_DISK)
    val pairs = aliasPairs(spark, rows).persist(StorageLevel.MEMORY_AND_DISK)
    val sets = expansionSets(pairs).persist(StorageLevel.MEMORY_AND_DISK)
    val (unambiguous, ambiguous) = split(sets)
    val ambiguousKeys = sets.where(ambiguousSet).select(col("acr_key"))

    val mentions = rows.where(col("pred") === "mentionsEntity")
      .select(col("url"), col("pred"), entityKey(col("obj")).as("entity_key"),
        col("surface"), col("kind"), col("weight"))
    val urlKw = rows.where(col("pred") === "hasKeyword")
      .select(col("url"), col("obj").as("kw"))
    val profiles = expansionProfiles(mentions, urlKw, ambiguous)

    // candidate grid: every ambiguous-acronym mention × its expansions.
    // No forced broadcast hints anywhere in linking: the ambiguous/profile
    // tables are usually vocabulary-sized, but at 10^12 pages "usually"
    // is not a guarantee — a forced hint OOMs when it's wrong, while AQE
    // promotes small sides to broadcast at runtime from observed sizes.
    val grid = mentions
      .join(ambiguousKeys, col("entity_key") === col("acr_key"))
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

    // NB: joins reorder columns and Dataset.union is positional — select
    // the canonical column order on both sides before unioning
    val cols = Seq("url", "pred", "entity_key", "surface", "kind", "weight").map(col)
    val untouched = mentions
      .join(ambiguousKeys.select(col("acr_key").as("entity_key")), Seq("entity_key"), "left_anti")
      .select(cols: _*)

    Resolved(unambiguous,
      untouched.union(resolved.select(cols: _*)).as[LinkedMention],
      Seq(sets, pairs, rows))
  }
}
