package pipebench

import java.util.SplittableRandom

/** Seeded input generators. Everything here is plain Scala: the program
  * under test only ever sees the generated bytes.
  */
object Gen {

  /** One order event as produced to the input topic. `malformed` events
    * are a strict prefix of a well-formed one, so no JSON parser accepts
    * them.
    */
  final case class Order(id: Long, key: String, value: String,
                         malformed: Boolean)

  private val regions =
    Array("eu-west", "eu-central", "us-east", "us-west", "ap-south", "sa-east")
  private val statuses = Array("paid", "pending", "shipped", "refunded")

  /** A fixed vocabulary of pronounceable lowercase words, the same for
    * every seed (the seed picks from it; it does not reshape it).
    */
  val vocabulary: Array[String] = {
    val rng = new SplittableRandom(0x5eedL)
    val cons = "bcdfghjklmnprstvwz"
    val vow = "aeiou"
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < 6000) {
      val syll = 2 + rng.nextInt(3)
      val sb = new StringBuilder
      (0 until syll).foreach { _ =>
        sb += cons.charAt(rng.nextInt(cons.length))
        sb += vow.charAt(rng.nextInt(vow.length))
      }
      seen += sb.toString
    }
    seen.toArray
  }

  /** The well-formed JSON text of order `id`, about 1 KB. */
  def orderJson(rng: SplittableRandom, id: Long, tsMs: Long): String = {
    val sb = new StringBuilder(1100)
    sb ++= s"""{"id":$id,"customer":"cust-${rng.nextInt(5000)}","""
    sb ++= s""""region":"${regions(rng.nextInt(regions.length))}","""
    sb ++= s""""status":"${statuses(rng.nextInt(statuses.length))}","""
    sb ++= s""""ts":$tsMs,"items":["""
    val nItems = 3 + rng.nextInt(4)
    var j = 0
    while (j < nItems) {
      if (j > 0) sb += ','
      sb ++= s"""{"sku":"SKU-${rng.nextInt(100000)}","qty":${1 + rng.nextInt(5)},"""
      sb ++= s""""unit_cents":${100 + rng.nextInt(9900)}}"""
      j += 1
    }
    sb ++= """],"note":""""
    var first = true
    while (sb.length < 1000) {
      if (!first) sb += ' '
      sb ++= vocabulary(rng.nextInt(vocabulary.length))
      first = false
    }
    sb ++= "\"}"
    sb.toString
  }

  /** `n` order events with ids `firstId until firstId + n`; each is
    * malformed with probability `malformedFrac`.
    */
  def orders(seed: Long, n: Int, malformedFrac: Double,
             firstId: Long = 0L): Array[Order] = {
    val rng = new SplittableRandom(seed)
    Array.tabulate(n) { i =>
      val id = firstId + i
      val full = orderJson(rng, id, 1700000000000L + id * 37L)
      val bad = rng.nextDouble() < malformedFrac
      val value =
        if (bad) full.substring(0, 20 + rng.nextInt(full.length - 40))
        else full
      Order(id, id.toString, value, bad)
    }
  }

  /** A document of the dedup corpus. */
  final case class Doc(id: Long, text: String)

  /** Corpus shape, fixed per workload; the seed only picks the words. */
  final case class CorpusShape(docs: Int, minWords: Int, maxWords: Int,
                               clusterFrac: Double, maxClusterSize: Int,
                               editFrac: Double, exactCopyFrac: Double,
                               boilerFrac: Double, boilerWords: Int)

  /** Documents drawn from [[vocabulary]], with planted near-duplicate
    * clusters (copies with a share of their words replaced), some
    * byte-identical copies, and a share of documents that carry one
    * common boilerplate header (high-document-frequency shingles).
    * Ids are shuffled so cluster members are not adjacent.
    */
  def corpus(seed: Long, s: CorpusShape): Array[Doc] = {
    val rng = new SplittableRandom(seed)
    def words(n: Int): Array[String] =
      Array.fill(n)(vocabulary(rng.nextInt(vocabulary.length)))
    val boiler = words(s.boilerWords).mkString(" ")
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    while (texts.size < s.docs) {
      val base = words(s.minWords + rng.nextInt(s.maxWords - s.minWords + 1))
      texts += base.mkString(" ")
      if (rng.nextDouble() < s.clusterFrac) {
        val copies = 1 + rng.nextInt(s.maxClusterSize - 1)
        var c = 0
        while (c < copies && texts.size < s.docs) {
          if (rng.nextDouble() < s.exactCopyFrac) texts += base.mkString(" ")
          else {
            val edited = base.clone()
            var k = 0
            val edits = math.max(1, (edited.length * s.editFrac).toInt)
            while (k < edits) {
              edited(rng.nextInt(edited.length)) =
                vocabulary(rng.nextInt(vocabulary.length))
              k += 1
            }
            texts += edited.mkString(" ")
          }
          c += 1
        }
      }
    }
    val withBoiler = texts.map(t =>
      if (rng.nextDouble() < s.boilerFrac) boiler + " " + t else t)
    // Fisher–Yates over ids, so id order says nothing about clusters
    val ids = Array.tabulate(s.docs)(_.toLong)
    var i = ids.length - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1)
      val t = ids(i); ids(i) = ids(j); ids(j) = t
      i -= 1
    }
    Array.tabulate(s.docs)(k => Doc(ids(k), withBoiler(k)))
  }
}
