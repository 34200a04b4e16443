package graftbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every value is integer arithmetic on a row
  * index and the seed, written as Spark expressions so rows are made on
  * the executors. What decides an expected answer (which documents are
  * copies, which carry stop words, the id mix) is written once more in
  * Scala, so the harness knows each answer without asking the program.
  */
final class Gen(seed: Long) {
  // seed-derived constants; the mixes below stay bijective for any value
  private val k30 = math.floorMod(seed * 0x9E3779B97F4A7C15L, 1L << 30)
  private val k32 = math.floorMod(seed * 0xBF58476D1CE4E5B9L, 1L << 32)
  private val dupPhase = math.floorMod(seed, 10L)

  // ---- narrow rows (id, user, msg, etype): the reference example's shape ----

  /** Mix of an id into 32 bits; odd multiplier, so ids map one to one. */
  def mix32(id: Long): Long = math.floorMod(id * 2654435761L + k32, 1L << 32)
  def mix32Col(id: Column): Column = pmod(id * lit(2654435761L) + lit(k32), lit(1L << 32))

  /** `msg` leads with the mixed id, so its order in a file is unrelated
    * to arrival: min/max stats can never skip on it, only its bloom filter.
    */
  def narrow(ids: DataFrame, idCol: String): DataFrame = {
    val id = col(idCol)
    ids.select(id.as("id"),
      concat(lit("user-"), pmod(id * lit(7919L) + lit(k32), lit(9973L)).cast("string")).as("user"),
      concat(lpad(lower(hex(mix32Col(id))), 8, "0"), lit("-"),
        lpad(id.cast("string"), 12, "0"), lit("-payload")).as("msg"),
      concat(lit("t"), pmod(id * lit(31L) + lit(k32), lit(8L)).cast("string")).as("etype"))
  }

  // ---- documents: 25 fixed-width tokens, planted near-duplicates ----

  val Tokens = 25
  private val MutatedBase = 1L << 29

  /** Document `i` copies the tokens of its source; a document is its own
    * source unless it is a planted near-duplicate. Every `(i + phase) % 10
    * == 4` copies `i - 4` (the same epoch, unless `i` is near an epoch's
    * start); every `% 10 == 9` copies `i - epochDocs - 3` (the previous
    * epoch). Both sources sit at `% 10` of 0 or 6, never a duplicate
    * themselves, so duplicates never chain. `epochDocs` is a multiple of 10.
    */
  def source(i: Long, epochDocs: Long): Long = {
    val r = math.floorMod(i + dupPhase, 10L)
    if (r == 4 && i >= 4) i - 4
    else if (r == 9 && i >= epochDocs + 3) i - epochDocs - 3
    else i
  }
  private def sourceCol(i: Column, epochDocs: Long): Column = {
    val r = pmod(i + lit(dupPhase), lit(10L))
    when(r === 4 && i >= 4, i - 4)
      .when(r === 9 && i >= epochDocs + 3, i - lit(epochDocs + 3))
      .otherwise(i)
  }

  /** Sources with a stop word pass the quality gate; the rest fail it on
    * their stop-word ratio.
    */
  def hasStop(src: Long): Boolean = math.floorMod(mix32(src) >> 16, 10L) < 7
  private def hasStopCol(src: Column): Column = pmod(floor(mix32Col(src) / 65536), lit(10L)) < 7

  // token ids are unique per (source, position), plus one per mutation,
  // and map one to one onto 6-character base-36 words: two documents
  // share a word 3-gram only when one copies the other
  private def wordCol(tokenId: Column): Column =
    lpad(lower(conv(pmod(tokenId * lit(0x9E3779B1L) + lit(k30), lit(1L << 30)).cast("string"), 10, 36)), 6, "0")

  def docs(ids: DataFrame, idCol: String, epochDocs: Long): DataFrame = {
    require(epochDocs % 10 == 0, "epochDocs must be a multiple of 10")
    val i = col(idCol)
    val src = sourceCol(i, epochDocs)
    val words = transform(sequence(lit(0), lit(Tokens - 1)), t =>
      when(src =!= i && t === 12, wordCol(lit(MutatedBase) + i))
        .when(hasStopCol(src) && t === 5, lit("the"))
        .when(hasStopCol(src) && t === 17, lit("of"))
        .otherwise(wordCol(src * Tokens + t)))
    ids.select(i.as("doc_id"), concat_ws(" ", words).as("text"))
      .withColumn("n_chars", length(col("text")))
  }

  /** Expected outcomes over documents [0, n). */
  def docTruth(n: Long, epochDocs: Long): Gen.DocTruth = {
    var orig = 0L; var origKeep = 0L; var i = 0L
    while (i < n) {
      if (source(i, epochDocs) == i) { orig += 1; if (hasStop(i)) origKeep += 1 }
      i += 1
    }
    Gen.DocTruth(n, orig, origKeep)
  }
}

object Gen {
  /** Documents offered, first arrivals among them, and how many of those
    * the quality gate keeps.
    */
  final case class DocTruth(n: Long, originals: Long, originalsGateKeep: Long)
}
