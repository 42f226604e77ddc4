package perfbench

import scala.util.Random

/** The two workloads. Both build indexes from the same seeded corpus and
  * then run the closed-loop query phase and the open-loop serve phase, so
  * every end-to-end metric is measured on both; the workloads split the
  * engine's heavy steps between them.
  *
  *  - `read`: builds the block index; serves two of the
  *    reference's six SERP modes, scored (BM25) and term-expanding
  *    (Wildcard), both cache misses, then repeats the first request, which
  *    the SERP cache answers; queries the index as built.
  *  - `write`: builds the block and positional indexes; serves
  *    autocomplete keystrokes; ingests one replace-heavy upsert batch into
  *    the block index and its positional sidecar, then queries the
  *    segmented, tombstoned index the batch leaves.
  *
  * Both issue the same closed-loop query stream of 1-4 terms: three in four
  * queries are led by a high-df keyword or head identifier whose blocks
  * WAND cannot prune, the rest hold only Zipf-tail identifiers, which it
  * can.
  */
final case class Profile(indexes: Seq[String],
    serveModes: Seq[String], serveRequests: Int, serveGapMs: Long,
    serveRepeat: Boolean, batches: Int, replaceShare: Double)

object Profile {
  val all: Map[String, Profile] = Map(
    "read" -> Profile(indexes = Seq("block"),
      serveModes = Seq("BM25", "Wildcard"),
      serveRequests = 2, serveGapMs = 6000, serveRepeat = true,
      batches = 0, replaceShare = 0.0),
    "write" -> Profile(indexes = Seq("block", "pos"),
      serveModes = Seq("suggest"), serveRequests = 4, serveGapMs = 1000, serveRepeat = false,
      batches = 1, replaceShare = 0.9))
}

/** A query with the kind of its terms: `head` when any term is a keyword or
  * head identifier, else `tail`.
  */
final case class Q(text: String, head: Boolean)

/** One scheduled server request: a SERP in one of the reference's six
  * modes, or an autocomplete keystroke (`alg = "suggest"`).
  */
final case class Req(dueMs: Long, alg: String, q: String, bm25Terms: Option[String])

/** Seeded generators. Each input stream draws from its own Random, so
  * changing how much of one stream a run consumes leaves the others alone.
  */
final class Inputs(seed: Long, val profile: Profile) {
  private def rng(stream: Int) = new Random(seed * 1000003L + stream)

  private val keywords = graft.tools.CorpusGen.Keywords

  /** Identifier rank with the corpus generator's own power law
    * (CorpusGen: rank = floor(u^-0.8) - 1), restricted to `[lo, hi)`.
    */
  private def idRank(r: Random, lo: Int, hi: Int): Int = {
    var k = -1
    while (k < lo || k >= hi) k = math.floor(math.pow(1.0 - r.nextDouble(), -0.8) - 1).toInt
    k
  }

  private def headTerm(r: Random): String =
    if (r.nextDouble() < 0.7) keywords(r.nextInt(keywords.size)) else s"id${r.nextInt(10)}"

  private def tailTerm(r: Random): String = s"id${idRank(r, 20, 20000)}"

  /** A head-led query is one head term and 1-3 tail identifiers; a tail
    * query is 1-3 tail identifiers. Every head-led query thus holds one
    * long posting list WAND must read in full, which keeps their costs
    * alike from seed to seed.
    */
  private def makeQuery(r: Random, head: Boolean): Q = {
    val tails = Seq.fill(1 + r.nextInt(3))(tailTerm(r))
    Q(((if (head) Seq(headTerm(r)) else Nil) ++ tails).distinct.mkString(" "), head)
  }

  /** The closed-loop query stream: every fourth query is a tail query, the
    * rest are head-led, in a fixed order, so each run has the same mix.
    */
  def queries(n: Int): IndexedSeq[Q] = {
    val r = rng(1)
    IndexedSeq.tabulate(n)(i => makeQuery(r, i % 4 != 3))
  }

  /** Keystrokes that warm the HTTP path before the serve schedule. */
  def warmupKeystrokes: Seq[String] = {
    val r = rng(6)
    Seq.fill(3)(s"id${r.nextInt(10)}")
  }

  /** A head-led query that warms the query path. */
  def warmupQuery: Q = makeQuery(rng(5), head = true)

  /** The open-loop serve schedule: `serveRequests` requests due every `serveGapMs`,
    * cycling through the profile's modes so every run holds the same mode
    * mix, each with a fresh query; with `serveRepeat` the first request is
    * sent once more at the end.
    */
  def serveSchedule: IndexedSeq[Req] = {
    val r = rng(3)
    // a keyword and a tail identifier: one term whose neighbourhood (for
    // Fuzzy and Wildcard) is small and one whose postings are long
    def fresh(alg: String): Req = {
      val terms = Seq(keywords(r.nextInt(keywords.size)), tailTerm(r))
      alg match {
        case "Boolean" => Req(0, alg, terms.mkString(if (r.nextBoolean()) " && " else " || "), None)
        case "Fuzzy" => Req(0, alg, terms.map(typo(r, _)).mkString(" "), None)
        case "Wildcard" => Req(0, alg, terms.map(t => t.take(math.max(3, t.length - 1)) + "*").mkString(" "), None)
        case "suggest" => Req(0, alg, terms.head.take(1 + r.nextInt(math.max(1, terms.head.length - 1))), None)
        case "BM25" => Req(0, alg, terms.mkString(" "), Some(terms.mkString(" ")))
        case _ => Req(0, alg, terms.mkString(" "), None)
      }
    }
    val modes = profile.serveModes
    val reqs = IndexedSeq.tabulate(profile.serveRequests)(i => fresh(modes(i % modes.size)))
    (if (profile.serveRepeat) reqs :+ reqs.head else reqs)
      .zipWithIndex.map { case (q, i) => q.copy(dueMs = i * profile.serveGapMs) }
  }

  /** One edit (drop or swap) inside terms long enough to stay fuzzy-matchable. */
  private def typo(r: Random, t: String): String =
    if (t.length < 4) t
    else {
      val i = 1 + r.nextInt(t.length - 2)
      if (r.nextBoolean()) t.take(i) + t.drop(i + 1)
      else t.take(i) + t(i + 1) + t(i) + t.drop(i + 2)
    }

  private val batchRng = rng(4)

  /** Keys of upsert batch `b`: `size` keys, a `replaceShare` of them drawn
    * from the currently live keys and the rest new.
    */
  def batchKeys(b: Int, size: Int, live: IndexedSeq[String]): IndexedSeq[String] = {
    val nReplace = math.min(live.size, math.round(size * profile.replaceShare).toInt)
    val replaced = batchRng.shuffle(live.indices.toVector).take(nReplace).map(live)
    replaced ++ (0 until size - nReplace).map(i => s"repo-new/src/batch$b/File$i.scala@$seed")
  }

  /** Seed of the corpus generator for batch `b`'s new contents. */
  def batchSeed(b: Int): Long = seed * 7919L + b
}
