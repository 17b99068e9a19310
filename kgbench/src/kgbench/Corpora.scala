package kgbench

import java.nio.charset.StandardCharsets
import java.sql.Timestamp
import org.apache.spark.sql.{Dataset, SparkSession}
import graft.kg.PagesGen
import graft.kg.Schema.Page

/** The benchmark's two seeded corpus generators. Everything derives from
  * (seed, doc id) through splitmix64: no wall clock, no unseeded
  * randomness, so one seed always yields byte-identical pages. */
object Corpora {

  def mix(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  private def h(seed: Long, a: Long, b: Long = 0L): Long =
    mix(mix(mix(seed) ^ a) ^ (b * 0x632be59bd9b4e019L))

  private val epochMs = 1767225600000L // 2026-01-01T00:00:00Z, fixed

  // ------------------------------------------------------------ papers
  /** First doc id of a seed's papers corpus: a seed-offset window into
    * PagesGen's id space, so every seed builds different pages. */
  def papersBase(seed: Long): Long = (mix(seed) >>> 24) % 1000000000L

  /** One PagesGen page, exactly as `PagesGen.pages` lays it out. */
  def paperPage(id: Long): Page = {
    val text = PagesGen.docText(id)
    val lang = if (id % 20 == 7) "xx" else "en"
    val html = ("<html><body><p>" + text + "</p></body></html>").getBytes(StandardCharsets.UTF_8)
    // every 50th row: text null, so extraction takes the html path
    Page(PagesGen.url(id), new Timestamp(epochMs + (id % 86400000L) * 1000L), html,
      if (id % 50 == 49) null else text, lang)
  }

  def papers(spark: SparkSession, seed: Long, nDocs: Long): Dataset[Page] = {
    import spark.implicits._
    val base = papersBase(seed)
    spark.range(base, base + nDocs).map(id => paperPage(id))
  }

  // ------------------------------------------------------ long-tail vocab
  // Shape of the long-tail vocabulary corpus. Every doc names TailPerDoc
  // concepts of its own (the long tail), HeadPerDoc concepts drawn Zipf(1)
  // from a head of HeadConcepts, plural and spelling variants of the
  // previous doc's concepts (name-blocking input), and one of Families
  // acronym families, two of three with two expansions sharing the
  // initials (ambiguity input). The term extractor keeps at most 30 terms
  // per doc, which these counts stay under.
  private val TailPerDoc = 20
  private val HeadPerDoc = 4
  private val HeadConcepts = 2000
  private val Families = 600
  private val PluralsPerDoc = 2
  private val SpellingsPerDoc = 1

  private val cons = "bcdfghklmnprstvz"
  private val vowels = "aeiou"
  // 16 consonants, uppercase: acronym letters (never a blacklisted word)
  private val acrLetters = cons.toUpperCase(java.util.Locale.ROOT)

  /** A pronounceable lowercase word of 2-3 syllables; `first` fixes its
    * first letter when an acronym needs it. */
  def word(seed: Long, k: Long, first: Char = 0): String = {
    var x = h(seed, 0x77L, k)
    val sb = new StringBuilder
    val syl = 2 + (x & 1).toInt; x >>>= 1
    for (_ <- 0 until syl) {
      sb += cons((x & 15).toInt); x >>>= 4
      sb += vowels(((x & 0xff) % 5).toInt); x >>>= 8
    }
    sb += cons((x & 15).toInt)
    if (first != 0) sb(0) = Character.toLowerCase(first)
    sb.toString
  }
  private def cap(w: String): String = w.substring(0, 1).toUpperCase(java.util.Locale.ROOT) + w.substring(1)

  /** Concept c: three capitalized words. Every fifth concept's last word
    * ends in "or", so its "our" spelling is a near-duplicate name. */
  def concept(seed: Long, c: Long): String = {
    val ws = (0 until 3).map(i => cap(word(seed, h(seed, c, i + 1) & 0xfffffL)))
    val last = if (c % 5 == 3) ws(2).dropRight(1) + "or" else ws(2)
    s"${ws(0)} ${ws(1)} $last"
  }
  def plural(phrase: String): String = phrase + "s"
  def spelling(phrase: String): String =
    if (phrase.endsWith("or")) phrase.dropRight(2) + "our" else phrase + "e"

  /** Family f's acronym: three consonants, distinct per family (f < 4096). */
  def acronym(seed: Long, f: Int): String = {
    val v = ((f.toLong + (mix(seed) & 0xfffL)) % 4096L).toInt
    s"${acrLetters(v >> 8)}${acrLetters((v >> 4) & 15)}${acrLetters(v & 15)}"
  }
  /** Expansion k of family f: its initials spell the family acronym. */
  def expansion(seed: Long, f: Int, k: Int): String =
    acronym(seed, f).map(c => cap(word(seed, h(seed, f.toLong * 8 + k, c.toLong) & 0xfffffL, c)))
      .mkString(" ")
  /** Topic words of expansion (f, k): what context resolution keys on. */
  def topicWords(seed: Long, f: Int, k: Int): Seq[String] =
    (0 until 3).map(i => word(seed, 0x100000L + f.toLong * 64 + k * 8 + i))

  // Zipf(1) over head ranks, shared by every seed
  private lazy val zipfCdf: Array[Double] = {
    val w = Array.tabulate(HeadConcepts)(r => 1.0 / (r + 1))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }
  private def zipfRank(u: Double): Int = {
    val i = java.util.Arrays.binarySearch(zipfCdf, u)
    math.min(zipfCdf.length - 1, if (i >= 0) i else -i - 1)
  }
  private def unit(x: Long): Double = (x >>> 11).toDouble / (1L << 53).toDouble

  private val connectors = Vector("we compare", "the results of", "we extend", "this builds on",
    "experiments use", "we revisit", "a variant of", "prior work on")

  def vocabUrl(seed: Long, d: Long): String = f"https://vocab.example.org/s$seed/doc$d%07d"

  /** Doc d of the long-tail corpus. Each named concept appears twice (the
    * term extractor keeps terms seen at least twice in a doc). */
  def vocabText(seed: Long, d: Long): String = {
    val sentences = Vector.newBuilder[String]
    def say(phrase: String, j: Int): Unit = {
      val c = connectors(Math.floorMod(h(seed, d, 1000 + j), connectors.size.toLong).toInt)
      sentences += s"$c $phrase in practice."
      sentences += s"later $phrase is evaluated again."
    }
    val tail0 = HeadConcepts.toLong + d * TailPerDoc
    for (j <- 0 until TailPerDoc) say(concept(seed, tail0 + j), j)
    for (j <- 0 until HeadPerDoc)
      say(concept(seed, zipfRank(unit(h(seed, d, 2000 + j))).toLong), 100 + j)
    if (d > 0) {
      val prev0 = tail0 - TailPerDoc
      for (j <- 0 until PluralsPerDoc) say(plural(concept(seed, prev0 + j)), 200 + j)
      for (j <- 0 until SpellingsPerDoc)
        say(spelling(concept(seed, prev0 + 3 + 5 * j)), 300 + j)
    }
    // one acronym family: the acronym beside one of its expansions (alias
    // discovery), or bare with that expansion's topic words (context
    // resolution); every third family has one expansion only
    val f = Math.floorMod(h(seed, d, 3000), Families.toLong).toInt
    val nExp = if (f % 3 == 0) 1 else 2
    val k = Math.floorMod(h(seed, d, 3001), nExp.toLong).toInt
    val acr = acronym(seed, f)
    val topic = topicWords(seed, f, k)
    val bare = d % 4 == 1
    if (!bare) {
      val e = expansion(seed, f, k)
      sentences += s"we introduce the $e ($acr) for ${topic.mkString(" ")} tasks."
      sentences += s"the $e is then applied and $acr keeps ${topic.mkString(" and ")} stable."
    } else {
      sentences += s"we apply $acr to ${topic.mkString(" ")} tasks."
      sentences += s"here $acr handles ${topic.mkString(" and ")} well."
    }
    sentences += s"overall ${topic.mkString(" ")} matter for ${topic.head} systems."
    // shuffle sentence order deterministically so docs are not templated
    val ss = sentences.result()
    val order = ss.indices.sortBy(i => h(seed, d, 4000 + i))
    "Notes on " + vocabUrl(seed, d).takeRight(7) + "\n\n" + order.map(ss).mkString(" ") + "\n"
  }

  def vocabPage(seed: Long, d: Long): Page =
    Page(vocabUrl(seed, d), new Timestamp(epochMs + d * 1000L), null, vocabText(seed, d), "en")

  def vocab(spark: SparkSession, seed: Long, nDocs: Long): Dataset[Page] = {
    import spark.implicits._
    spark.range(nDocs).map(d => vocabPage(seed, d))
  }

  /** Content hash of a page, for the byte-identity test. */
  def pageHash(p: Page): Long = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    Seq(p.url, String.valueOf(p.warc_ts.getTime), p.text, p.lang).foreach { s =>
      md.update(String.valueOf(s).getBytes(StandardCharsets.UTF_8)); md.update(0.toByte)
    }
    if (p.html != null) md.update(p.html)
    java.nio.ByteBuffer.wrap(md.digest()).getLong
  }
}
