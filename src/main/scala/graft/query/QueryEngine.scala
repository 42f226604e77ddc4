package graft.query

import graft.analysis.Analyzer
import graft.index.IndexBundle
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** The six query modes of the reference engine (searcher.go), composed as
  * declarative DataFrame plans over the [[IndexBundle]] Datasets. Query
  * strings are parsed on the driver (they are single local values); all
  * set operations, candidate generation, and scoring run distributed.
  *
  * Determinism: unscored results order by docId ascending (the reference's
  * posting-list order); scored results order by (score desc, docId asc) —
  * the reference's sort is unstable with unspecified tie order
  * (searcher.go:193-203), so ties get a deterministic tie-break here.
  */
final class QueryEngine(
    val index: IndexBundle,
    val k1: Double = 0.9, // reference searcher.go:246
    val b: Double = 0.4, // reference searcher.go:247
    /** (term, docId, pos) relation for the Phrase extension mode —
      * [[graft.index.PositionalIndex.positionsStream]] over the corpus
      * (plan construction is lazy; nothing runs unless a phrase query
      * does). None ⇒ [[phraseQuery]] fails loudly instead of returning
      * silently-empty results.
      */
    val positions: Option[DataFrame] = None,
    /** Raw document-model relation (docId, title, body, url) for the Grep
      * extension mode — case-sensitive literal substring search over the
      * UNANALYZED body, which no analyzed-postings mode can express.
      * None ⇒ [[grepQuery]] fails loudly. When serving a tombstoned
      * index, pass the tombstone-filtered relation (SearchCli.resolve
      * does) so Grep cannot resurrect deleted docs.
      */
    val rawDocs: Option[DataFrame] = None
) extends Serializable {
  import QueryEngine.{Candidates, Listed, Wide}

  private def spark = index.postings.sparkSession
  private def postings = index.postings
  private def kk = index.k

  private def emptyIds: DataFrame =
    postings.select(col("docId")).where(lit(false))

  /** Postings of several terms in one scan-with-IN-filter (pushed down to
    * the source when postings are parquet-backed).
    */
  def postingsOf(terms: Seq[String]): DataFrame =
    if (terms.isEmpty) postings.where(lit(false))
    else postings.where(col("term").isin(terms.distinct: _*))

  // ---------------------------------------------------------------------
  // Set operators (the engine's joins; reference index_inverted.go:43-112)
  // ---------------------------------------------------------------------

  /** n-ary intersection. The reference reorders by ascending df and folds
    * two-pointer merges (index_inverted.go:43-52); the groupBy-count
    * formulation is order-insensitive and does it in ONE shuffle: a doc
    * is in the intersection iff it matched all |terms| distinct terms
    * (each (term,docId) is unique in the postings).
    */
  def intersect(terms: Seq[String]): DataFrame = {
    val ts = terms.distinct
    if (ts.isEmpty) emptyIds
    else
      postingsOf(ts)
        .groupBy(col("docId")).agg(count(lit(1)).as("__m"))
        .where(col("__m") === ts.size)
        .select(col("docId"))
        .orderBy(col("docId"))
  }

  /** n-ary union, ascending docIds (reference index_inverted.go:77-92). */
  def union(terms: Seq[String]): DataFrame =
    if (terms.isEmpty) emptyIds
    else postingsOf(terms).select(col("docId")).distinct().orderBy(col("docId"))

  private def unionOf(ids: DataFrame, other: DataFrame): DataFrame =
    ids.union(other).distinct()

  private def intersectOf(ids: DataFrame, other: DataFrame): DataFrame =
    ids.join(other, "docId")

  // ---------------------------------------------------------------------
  // Unscored query modes
  // ---------------------------------------------------------------------

  /** Conjunctive exact match of all query tokens (reference searcher.go:35-38). */
  def termsQuery(query: String): DataFrame =
    intersect(Analyzer.tokenize(query))

  /** Boolean retrieval, `&&`/`||` (reference searcher.go:42-81). */
  def booleanQuery(query: String): DataFrame = {
    import BooleanParser._
    val hasAnd = query.contains(And)
    val hasOr = query.contains(Or)
    if (hasAnd && hasOr) {
      toTree(shuntingYard(parseInfix(query))) match {
        case None => emptyIds
        case Some(tree) =>
          def eval(n: Node): DataFrame = n match {
            case Term(w) =>
              postings.where(col("term") === w).select(col("docId"))
            case Op(isAnd, l, r) =>
              if (isAnd) intersectOf(eval(l), eval(r))
              else unionOf(eval(l), eval(r))
          }
          eval(tree).orderBy(col("docId"))
      }
    } else if (hasOr) union(splitTrimToLower(query, Or))
    else intersect(splitTrimToLower(query, And))
  }

  // ---------------------------------------------------------------------
  // Approximate matching (k-gram filter-then-verify per vocabulary term;
  // reference index_kgram.go + searcher.go:142-189)
  // ---------------------------------------------------------------------

  /** Whether `gram` is one of the vocabulary term's k-grams. A term's
    * k-grams are the length-k windows of its `$`-padded form, or the term
    * itself when it is shorter than k-1 ([[Analyzer.kgrams]]), so the test
    * is a substring test on the padded term, evaluated per row with no
    * k-gram relation.
    */
  private def hasGram(gram: String): Column = {
    val term = col("term")
    val pad = lit("$" * (kk - 1))
    if (gram.length == kk) length(term) >= kk - 1 && concat(pad, term, pad).contains(gram)
    else term === gram
  }

  /** The vocabulary term is within `maxEditDistance` of `str`: the k-gram
    * overlap bound, counting each occurrence of a repeated query gram
    * (reference index_kgram.go:58-67, 94-108), gates the exact levenshtein.
    * A term sharing no gram never qualifies, as in the reference's
    * gram-posting merge.
    */
  private def closeTo(str: String, maxEditDistance: Int): Column = {
    val overlap = Analyzer.kgrams(str, kk).groupBy(identity)
      .map { case (g, occ) => when(hasGram(g), occ.size).otherwise(0) }
      .reduce(_ + _)
    val bound = greatest(lit(str.length), length(col("term"))) - 1 -
      lit((maxEditDistance - 1) * kk)
    overlap >= greatest(bound, lit(1)) &&
      levenshtein(lit(str), col("term")) <= maxEditDistance
  }

  /** The vocabulary term holds every non-wildcard k-gram of the pattern
    * (reference index_kgram.go:71-90). All-wildcard patterns have no
    * non-wildcard grams and match nothing.
    */
  private def holdsGramsOf(pattern: String): Column =
    Analyzer.kgrams(pattern, kk).filterNot(g => g.contains('*') || g.contains('?'))
      .distinct.map(hasGram).reduceOption(_ && _).getOrElse(lit(false))

  /** The wildcard token matches the vocabulary term: its k-grams, then the
    * exact match as an anchored regex (`*`→`.*`, `?`→`.`), which has the
    * semantics of the reference's DP (`*` = zero or more) and kills k-gram
    * false positives like `sem*ts*c` vs `semantic`.
    */
  private def matchesWildcard(tok: String): Column =
    holdsGramsOf(tok) && col("term").rlike(Analyzer.wildcardRegex(tok))

  /** The vocabulary: one row per indexed term with its df. */
  private def vocab: DataFrame = index.termStats.select(col("term"), col("df"))

  /** Vocabulary terms within `maxEditDistance` of `str`. Returns (term). */
  def closeTerms(str: String, maxEditDistance: Int): DataFrame =
    vocab.where(closeTo(str, maxEditDistance)).select(col("term"))

  /** Vocabulary terms containing every non-wildcard k-gram of the pattern
    * (the wildcard candidate pre-filter). Returns (term).
    */
  def kgramMatch(pattern: String): DataFrame =
    vocab.where(holdsGramsOf(pattern)).select(col("term"))

  /** The candidate probe: ONE pass over the vocabulary that tests every
    * token's predicate on each term and keeps (term, df, hits), `hits`
    * the indexes of the tokens the term is a candidate for.
    */
  private def probe(preds: Seq[Column]): RDD[Row] =
    vocab.select(col("term"), col("df"),
        filter(array(preds.zipWithIndex.map { case (p, i) => when(p, lit(i)) }: _*),
          _.isNotNull).as("hits"))
      .where(size(col("hits")) > 0)
      .rdd

  /** Each token's candidate terms from one [[probe]] job. The candidate
    * set is VOCABULARY-bounded, not constant-bounded: a loose pattern
    * (`a*`, or a short token with edit budget 2) can match a large fraction
    * of a 10⁷–10⁸-term vocabulary. So every partition sends at most
    * [[QueryEngine.CandidateInCap]]+1 terms per token, and
    *
    *   - ≤ cap: the token's full candidate set is in hand with each term's
    *     df; its postings come from the scan as an `In(term, …)` filter;
    *   - > cap: its candidates stay distributed, and its postings come
    *     from a SHUFFLE LEFT SEMI join (postings ⋉ candidates), hinted
    *     `shuffle_hash` on the candidate side so neither the static planner
    *     nor AQE re-broadcasts what the probe just proved unbounded.
    *
    * Result sets are identical on both sides of the cap (spec-asserted).
    */
  private def candidates(preds: Seq[Column]): IndexedSeq[Candidates] = {
    if (preds.isEmpty) return IndexedSeq.empty
    val cap = QueryEngine.CandidateInCap
    val perPart = QueryEngine.keepPerToken(probe(preds), preds.size, cap + 1).collect()
    preds.indices.map { i =>
      val terms = perPart.iterator.flatMap(_(i)).take(cap + 1).toSeq
      if (terms.size <= cap) Listed(terms)
      else Wide(vocab.where(preds(i)).select(col("term")))
    }
  }

  /** (docId, tok) for every posting of a candidate term of token `tok` ≥
    * `from`, duplicates kept. The listed tokens' postings come from one
    * scan, each term mapped to the tokens it is a candidate for.
    */
  private def tokenPostings(cands: IndexedSeq[Candidates], from: Int): DataFrame = {
    val tokens = from until cands.size
    val listed = (for (i <- tokens; t <- cands(i).listed) yield t -> i)
      .groupMap(_._1)(_._2)
    val scan =
      if (listed.isEmpty) None
      else Some(postings.where(col("term").isin(listed.keys.toSeq: _*))
        .select(col("docId"), explode(typedLit(listed).apply(col("term"))).as("tok")))
    val wide = tokens.flatMap { i =>
      cands(i) match {
        case Wide(terms) => Some(postings.join(terms.hint("shuffle_hash"), Seq("term"), "left_semi")
          .select(col("docId"), lit(i).as("tok")))
        case _ => None
      }
    }
    (scan ++ wide).reduceOption(_ union _)
      .getOrElse(emptyIds.select(col("docId"), lit(0).as("tok")))
  }

  /** A Fuzzy or Wildcard query after its candidate probe: per token, its
    * candidates. The fold and the page group the candidates' postings by
    * doc in one task with no exchange; a shuffle by docId instead ran
    * slower at every size measured, up to 1.2M candidate postings.
    */
  private final class Expansion(cands: IndexedSeq[Candidates]) {
    val n: Int = cands.size

    /** (docId, toks): the tokens ≥ `from` each doc holds a candidate of. */
    private def covered(from: Int): DataFrame =
      tokenPostings(cands, from).coalesce(1).groupBy(col("docId"))
        .agg(collect_set(col("tok")).as("toks"))

    /** The reference fold (searcher.go:147-151, 182-185) replayed from one
      * aggregate job ([[QueryEngine.FoldTally]]): the token where its last
      * reset-on-empty started the final intersection of tokens from..n-1,
      * and that intersection's doc count. No job when no token has a
      * candidate.
      */
    lazy val (from: Int, total: Long) =
      if (cands.forall(_ == Listed(Nil))) (n - 1, 0L)
      else QueryEngine.FoldTally.of(covered(0), n).replay

    /** The final intersection: the docs holding every token from..n-1. */
    private def intersection: DataFrame =
      covered(from).where(size(col("toks")) === n - from).select(col("docId"))

    /** The first `m` ascending docIds of the final intersection, one job. */
    def firstIds(m: Int): Seq[Long] =
      intersection.queryExecution.toRdd.map(_.getLong(0)).takeOrdered(m).toSeq

    /** The final intersection as an ascending (docId) relation. */
    def docIds: DataFrame =
      if (total == 0) emptyIds else intersection.orderBy(col("docId"))
  }

  /** The [[Expansion]] of a Fuzzy or Wildcard query; None for other modes. */
  private def expand(alg: String, query: String): Option[Expansion] = alg match {
    case "Fuzzy" => Some(new Expansion(candidates(Analyzer.tokenize(query)
      .map(t => closeTo(t, Analyzer.getFuzziness(t))))))
    case "Wildcard" => Some(new Expansion(candidates(
      Analyzer.tokenizeWildcard(query).map(matchesWildcard))))
    case _ => None
  }

  /** Fuzzy retrieval with the per-token-length edit budget
    * (reference searcher.go:142-168): each token's close terms, folded
    * with the reference's reset-on-empty quirk — when the accumulated
    * result is empty the next token's union REPLACES it instead of
    * short-circuiting. The probe and the fold run as two jobs here;
    * the result is an ascending (docId) relation.
    */
  def fuzzyQuery(query: String): DataFrame = expand("Fuzzy", query).get.docIds

  /** Wildcard retrieval: each token's matching terms, folded as in
    * [[fuzzyQuery]] (reference searcher.go:173-189).
    */
  def wildcardQuery(query: String): DataFrame = expand("Wildcard", query).get.docIds

  // ---------------------------------------------------------------------
  // Scored query modes
  // ---------------------------------------------------------------------

  /** Query tokens with multiplicity: duplicate query tokens double-score
    * (reference searcher.go:211-223,249).
    */
  private def queryTermsDf(tokens: Seq[String]): DataFrame = {
    val sp = spark
    import sp.implicits._
    tokens.groupBy(identity).view.mapValues(_.size).toSeq
      .toDF("term", "qcnt")
  }

  private def scoredEmpty: DataFrame =
    postings.select(col("docId"), lit(0.0).as("score")).where(lit(false))

  /** TF-IDF vector-space scoring, normalized by body word count — the
    * reference's simplified cosine (searcher.go:208-230).
    */
  def vectorSpaceQuery(query: String): DataFrame = {
    val toks = Analyzer.tokenize(query)
    if (toks.isEmpty) scoredEmpty
    else {
      postings
        .join(broadcast(queryTermsDf(toks)), "term")
        .join(index.termStats, "term")
        .groupBy(col("docId"))
        .agg(sum(col("qcnt") * col("tf") * index.idfCol(col("df"))).as("__raw"))
        .join(index.docLens, "docId")
        .select(col("docId"),
          (col("__raw") / col("len").cast("double")).as("score"))
        .orderBy(col("score").desc, col("docId").asc)
    }
  }

  /** Okapi BM25 (k1 = 0.9, b = 0.4 reference defaults;
    * searcher.go:245-268): [[bm25WeightedQuery]] with each query token's
    * occurrence count as its weight, so duplicate tokens double-score.
    * `topK = None` returns every matching document, like the reference;
    * `Some(k)` compiles to TakeOrderedAndProject.
    */
  def bm25Query(query: String, topK: Option[Int] = None): DataFrame =
    bm25WeightedQuery(Analyzer.tokenize(query).groupBy(identity)
      .map { case (t, ts) => t -> ts.size.toDouble }.toSeq, topK)

  /** [[IndexBundle.bm25Weight]] of a (term, docId) row joined with its
    * term's `df` and its doc's `len`.
    */
  private def bm25Weight: Column =
    IndexBundle.bm25Weight(index.idfCol(col("df")), col("tf").cast("double"),
      col("len").cast("double"), lit(index.stats.avgdl), k1, b)

  /** Batched BM25: N queries scored in ONE pass over the logical index —
    * the in-memory twin of
    * [[graft.index.BlockIndex.bm25TopKBatch]] (same amortization of the
    * per-job floor, spec-asserted rank/score-identical to per-query
    * [[bm25Query]]). Output: (query, docId, score, rank), rank 1..k per
    * query ordered (score desc, docId asc); queries with no matching
    * terms yield no rows.
    */
  def bm25QueryBatch(queries: Seq[String], k: Int): DataFrame = {
    val sp = spark
    import sp.implicits._
    val qTerms: Seq[(String, String, Double)] = for {
      q <- queries.distinct
      (t, n) <- Analyzer.tokenize(q).groupBy(identity).view.mapValues(_.size).toSeq
    } yield (q, t, n.toDouble)
    if (qTerms.isEmpty)
      return Seq.empty[(String, Long, Double, Int)].toDF("query", "docId", "score", "rank")
    val scored = postings
      .join(broadcast(qTerms.toDF("query", "term", "qcnt")), "term")
      .join(index.termStats, "term")
      .join(index.docLens, "docId")
      .groupBy(col("query"), col("docId"))
      .agg(sum(col("qcnt") * bm25Weight).as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query"))
      .orderBy(col("score").desc, col("docId").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .orderBy(col("query"), col("rank"))
  }

  /** Metadata-filtered BM25 — the `lang:scala repo:foo/bar` query shape
    * every code-search frontend exposes. Lucene filter semantics: the
    * filter restricts the CANDIDATE SET only; scoring statistics (idf,
    * avgdl) stay corpus-global, so a document's score is identical with
    * and without the filter and results are a strict subset of
    * [[bm25Query]]'s.
    *
    * `keepIds` is any (docId) relation — typically a pushed-down
    * predicate scan of the corpus metadata columns. The semi-join runs
    * AFTER the score aggregation: its left side is already collapsed to
    * one row per candidate doc (bounded by the query terms' df), so the
    * exchange it adds is on the small side of the plan, and Catalyst
    * broadcasts the filter relation when the metadata predicate is
    * selective.
    */
  def bm25FilteredQuery(query: String, keepIds: DataFrame,
      topK: Option[Int] = None): DataFrame = {
    val scored = bm25Query(query, None)
      .join(keepIds.select(col("docId")), Seq("docId"), "left_semi")
      .orderBy(col("score").desc, col("docId").asc)
    topK.fold(scored)(scored.limit)
  }

  /** Query-likelihood ranking with Dirichlet smoothing (Zhai & Lafferty
    * 2001, the standard μ=2000) — the language-model alternative to BM25:
    *
    *   score(d) = Σ_t qcnt_t · ln((tf_{t,d} + μ·p(t|C)) / (dl_d + μ))
    *
    * where p(t|C) = ctf_t / |C| is the collection unigram model. Query
    * terms absent from the corpus (ctf = 0) are skipped, the standard
    * convention (their smoothed probability is 0 for every document —
    * a rank-constant −∞). Candidates are documents containing at least
    * one surviving query term; for a candidate's MISSING terms the
    * smoothing term ln(μ·p_t) still applies, decomposed as
    *
    *   score(d) = base + Σ_{t∈d} qcnt_t·(ln(tf+μp_t) − ln(μp_t))
    *              − qtot·ln(dl_d + μ),   base = Σ_t qcnt_t·ln(μ·p_t)
    *
    * so the distributed pass touches ONLY present (term, doc) postings.
    *
    * Scale shape: postings are filtered to the query terms first (pushed
    * `In` via the broadcast term join, same as [[bm25Query]]); the ctf
    * probe collapses to ≤|q| rows before the driver collect (the same
    * bounded-collect discipline as the WAND df probes); the per-doc
    * aggregation is the plan's only data-sized exchange.
    */
  def lmDirichletQuery(query: String, mu: Double = 2000.0,
      topK: Option[Int] = None): DataFrame = {
    val toks = Analyzer.tokenize(query)
    if (toks.isEmpty) return scoredEmpty
    val qPost = postings.join(broadcast(queryTermsDf(toks)), "term")
    // collection term frequencies for the ≤|q| query terms — bounded
    val ctf: Map[String, Double] = qPost.groupBy(col("term"))
      .agg(sum(col("tf").cast("double")).as("ctf"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val totalLen = index.stats.totalLen.toDouble
    val qcnts = toks.groupBy(identity).view.mapValues(_.size).toSeq
    val seen = qcnts.filter { case (t, _) => ctf.contains(t) }
    if (seen.isEmpty) return scoredEmpty
    val base = seen.map { case (t, n) =>
      n * math.log(mu * ctf(t) / totalLen)
    }.sum
    val qtot = seen.map(_._2).sum.toDouble
    // μ·p_t per term rides the already-broadcast query relation
    val muP = seen.foldLeft(lit(0.0)) { case (acc, (t, _)) =>
      when(col("term") === t, mu * ctf(t) / totalLen).otherwise(acc)
    }
    val scored = qPost
      .select(col("docId"),
        (col("qcnt") *
          (log(col("tf").cast("double") + muP) - log(muP))).as("delta"))
      .groupBy(col("docId"))
      .agg(sum(col("delta")).as("dsum"))
      .join(index.docLens, "docId")
      .select(col("docId"),
        (lit(base) + col("dsum") -
          lit(qtot) * log(col("len").cast("double") + lit(mu))).as("score"))
      .orderBy(col("score").desc, col("docId").asc)
    topK.fold(scored)(scored.limit)
  }

  /** Exact-phrase mode — an EXTENSION beyond the reference's six
    * algorithms (a tf-only index cannot express adjacency): documents
    * containing the query tokens contiguously, ranked by occurrence
    * count (ties by docId). Fails loudly when the engine was built
    * without a positional relation rather than answering empty.
    */
  def phraseQuery(query: String): DataFrame = {
    val pos = positions.getOrElse(throw new IllegalStateException(
      "phrase queries need a positional relation — construct QueryEngine " +
        "with positions = Some(PositionalIndex.positionsStream(docs))"))
    val toks = Analyzer.tokenize(query)
    if (toks.isEmpty) scoredEmpty
    else graft.index.PositionalIndex.phraseHits(pos, toks)
      .select(col("docId"), col("phrase_tf").cast("double").as("score"))
      .orderBy(col("score").desc, col("docId").asc)
  }

  /** Proximity mode — the second positional extension: documents
    * containing ALL query terms, ranked by the tightness of their best
    * covering window (score = 1/min_span, so an adjacent pair scores 0.5
    * and scattered terms decay; ties by docId). Same loud-failure
    * contract as [[phraseQuery]] when no positional relation exists.
    */
  def proximityQuery(query: String): DataFrame = {
    val pos = positions.getOrElse(throw new IllegalStateException(
      "proximity queries need a positional relation — construct " +
        "QueryEngine with positions = Some(PositionalIndex.positionsStream(docs))"))
    val toks = Analyzer.tokenize(query)
    if (toks.isEmpty) scoredEmpty
    else graft.index.PositionalIndex.proximityHits(pos, toks)
      .select(col("docId"), (lit(1.0) / col("min_span")).as("score"))
      .orderBy(col("score").desc, col("docId").asc)
  }

  /** "More like this": related documents for a seed document — the query
    * is the seed's top-`m` terms by tf·idf (weight desc, term asc;
    * weights rounded to 6 dp before ranking so the cutoff is
    * reproducible across engines), scored with the standard BM25 plan,
    * the seed itself excluded. The m seed terms are a bounded
    * driver-side collect (m is a handful); everything else is the
    * distributed scoring dataflow. Unknown seed ⇒ empty result.
    */
  def moreLikeThis(seedDocId: Long, m: Int = 5,
      topK: Option[Int] = None): DataFrame = {
    require(m >= 1, s"m must be >= 1, got $m")
    val seedTerms = postings.where(col("docId") === seedDocId)
      .join(index.termStats, "term")
      .select(col("term"),
        round(col("tf").cast("double") * index.idfCol(col("df")), 6).as("__w"))
      .orderBy(col("__w").desc, col("term").asc)
      .limit(m)
      .collect().map(_.getString(0)).toSeq
    if (seedTerms.isEmpty) scoredEmpty
    else {
      // seed terms are analyzer tokens (lowercase alnum), so the joined
      // string round-trips through tokenize exactly
      val ranked = bm25Query(seedTerms.mkString(" "))
        .where(col("docId") =!= seedDocId)
        .orderBy(col("score").desc, col("docId").asc)
      topK.fold(ranked)(ranked.limit)
    }
  }

  /** BM25 with explicit fractional per-term weights in place of query-token
    * counts — the scoring primitive behind [[bm25Query]] and
    * pseudo-relevance feedback. Terms absent from the vocabulary
    * contribute nothing (inner join); an empty weight list scores empty.
    */
  def bm25WeightedQuery(termWeights: Seq[(String, Double)],
      topK: Option[Int] = None): DataFrame = {
    if (termWeights.isEmpty) scoredEmpty
    else {
      val sp = spark
      import sp.implicits._
      val scored = postings
        .join(broadcast(termWeights.toDF("term", "qcnt")), "term")
        .join(index.termStats, "term")
        .join(index.docLens, "docId")
        .groupBy(col("docId"))
        .agg(sum(col("qcnt") * bm25Weight).as("score"))
        .orderBy(col("score").desc, col("docId").asc)
      topK.fold(scored)(scored.limit)
    }
  }

  /** Pseudo-relevance-feedback expansion terms (the RM3-style first
    * half): the top-`e` terms by summed-tf × idf over the top-`f` BM25
    * feedback documents, with the original query tokens excluded.
    * Feedback-doc and expansion-term cutoffs both rank over 6dp-ROUNDED
    * values with deterministic tie-breaks (docId asc / term asc), so the
    * selection reproduces across engines — the same discipline as
    * [[moreLikeThis]]'s seed-term pick. The e-term collect is bounded by
    * `e` (a model knob); both ranking passes are distributed.
    */
  def prfExpandTerms(query: String, f: Int = 10, e: Int = 5): Seq[String] = {
    require(f >= 1 && e >= 1, s"f and e must be >= 1, got f=$f e=$e")
    val qToks = Analyzer.tokenize(query)
    if (qToks.isEmpty) return Seq.empty
    val fb = bm25Query(query)
      .select(col("docId"), round(col("score"), 6).as("__s"))
      .orderBy(col("__s").desc, col("docId").asc)
      .limit(f)
      .select(col("docId"))
    postings
      .join(broadcast(fb), "docId")
      .where(!col("term").isin(qToks.distinct: _*))
      .groupBy(col("term"))
      .agg(sum(col("tf").cast("double")).as("__stf"))
      .join(index.termStats, "term")
      .select(col("term"),
        round(col("__stf") * index.idfCol(col("df")), 6).as("__w"))
      .orderBy(col("__w").desc, col("term").asc)
      .limit(e)
      .collect().map(_.getString(0)).toSeq
  }

  /** Pseudo-relevance-feedback BM25 (RM3-lite; Abdul-Jaleel et al.,
    * TREC'04 describe the full RM3): score with the original tokens at
    * their occurrence counts PLUS the [[prfExpandTerms]] expansion terms
    * at weight `beta` — the classic recall-lifting second pass when the
    * vocabulary of relevant documents differs from the query's. beta = 0
    * degenerates to plain BM25 over the widened candidate set (expansion
    * terms contribute zero score).
    */
  def prfQuery(query: String, f: Int = 10, e: Int = 5, beta: Double = 0.5,
      topK: Option[Int] = None): DataFrame = {
    require(beta >= 0, s"beta must be >= 0, got $beta")
    val toks = Analyzer.tokenize(query)
    if (toks.isEmpty) return scoredEmpty
    val base = toks.groupBy(identity).view.mapValues(_.size.toDouble).toSeq
    val exp = prfExpandTerms(query, f, e).map(_ -> beta)
    bm25WeightedQuery(base ++ exp, topK)
  }

  /** Per-document top-`m` tf·idf keywords over the WHOLE corpus — the
    * batch generalization of [[moreLikeThis]]'s seed-term derivation
    * (document tagging / index-time keyword extraction). One window over
    * the postings relation, partitioned by docId so no skew hazard;
    * weights 6dp-rounded before ranking (ties term asc) for
    * cross-engine-reproducible cutoffs. Output:
    * (docId, term, weight, rn), rn 1..m per doc.
    */
  def keywordsPerDoc(m: Int = 5): DataFrame = {
    require(m >= 1, s"m must be >= 1, got $m")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("docId"))
      .orderBy(col("weight").desc, col("term").asc)
    postings
      .join(index.termStats, "term")
      .select(col("docId"), col("term"),
        round(col("tf").cast("double") * index.idfCol(col("df")), 6)
          .as("weight"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= m)
  }

  /** Learning-to-rank feature extraction: one row per candidate document
    * (any doc matching ≥ 1 query term) carrying the classic LTR feature
    * set — the training-data side of ranking (each row is an unjudged
    * LETOR-style sample; join qrels to label it, feed
    * [[graft.pipeline.EvalOps.rankEval]] the model's output to score it):
    *
    *   - `bm25`      this engine's BM25 score (identical arithmetic to
    *                 [[bm25Query]]);
    *   - `tfidf`     the length-normalized vector-space score (identical
    *                 to [[vectorSpaceQuery]]);
    *   - `n_matched` distinct query terms present in the doc;
    *   - `sum_tf`    total occurrences of query terms in the doc;
    *   - `doc_len`   body word count;
    *   - `max_idf`   the rarest matched term's idf.
    *
    * ONE pass: the postings relation is filtered by a broadcast of the
    * query terms and aggregated once per docId — every feature is an
    * aggregate of the same joined row set, so adding features does not
    * add jobs or shuffles (the scale discipline for per-query feature
    * logging). Scores 6dp-rounded. The result is deliberately UNORDERED
    * (a feature table, not a ranking) — callers that need an order sort
    * the bounded slice they keep.
    */
  def ltrFeatures(query: String): DataFrame = {
    val toks = Analyzer.tokenize(query)
    val idf = index.idfCol(col("df"))
    val dl = col("len").cast("double")
    // an empty query yields an empty (term, qcnt) frame: the join is
    // empty with the right schema — no sentinel special-casing needed
    postings
      .join(broadcast(queryTermsDf(toks)), "term")
      .join(index.termStats, "term")
      .join(index.docLens, "docId")
      .groupBy(col("docId"))
      .agg(
        round(sum(col("qcnt") * bm25Weight), 6).as("bm25"),
        round(sum(col("qcnt") * col("tf") * idf) / max(dl), 6).as("tfidf"),
        count(lit(1)).as("n_matched"),
        sum(col("tf").cast("long")).as("sum_tf"),
        max(col("len").cast("long")).as("doc_len"),
        round(max(idf), 6).as("max_idf"))
  }

  /** "Did you mean": deterministic per-token spelling suggestion over the
    * index vocabulary — each token's best close term by (edit distance
    * asc, df desc, term asc) within its length-scaled edit budget
    * ([[Analyzer.getFuzziness]]), from the same candidate probe as
    * [[fuzzyQuery]] in one job: every partition sends its best term per
    * token, and the driver merges at most partitions × tokens rows. A
    * token present in the vocabulary is its own unique distance-0
    * candidate, so it suggests itself; a token with NO candidate (garbage,
    * or the reference's short-token overlap-bound quirk) falls back to
    * itself. Output: (pos, token, suggestion), one row per query token.
    */
  def didYouMean(query: String): DataFrame = {
    val sp = spark
    import sp.implicits._
    suggestions(query).zipWithIndex.map { case ((t, s), i) => (i, t, s) }
      .toDF("pos", "token", "suggestion")
  }

  /** [[didYouMean]]'s (token, suggestion) pairs in query order. */
  private def suggestions(query: String): Seq[(String, String)] = {
    val toks = Analyzer.tokenize(query).toIndexedSeq
    val best =
      if (toks.isEmpty) Map.empty[Int, String]
      else QueryEngine.bestPerToken(
        probe(toks.map(t => closeTo(t, Analyzer.getFuzziness(t)))), toks)
    toks.zipWithIndex.map { case (t, i) => t -> best.getOrElse(i, t) }
  }

  /** [[didYouMean]] folded back into a query string (driver-side, bounded
    * by the token count); None when no token changed.
    */
  def suggestQuery(query: String): Option[String] = {
    val pairs = suggestions(query)
    if (pairs.exists { case (t, s) => t != s }) Some(pairs.map(_._2).mkString(" "))
    else None
  }

  /** Prefix typeahead: top-k vocabulary completions of the LAST typed
    * token by (df desc, term asc) — the autocomplete box served from the
    * index's own term statistics. A vocab-sized relation scan; postings
    * are never touched. Output: (term, df).
    */
  def typeahead(prefix: String, k: Int = 10): DataFrame = {
    val norm = Analyzer.tokenize(prefix).lastOption.getOrElse("")
    val base = index.termStats.select(col("term"), col("df"))
    if (norm.isEmpty) base.where(lit(false))
    else base.where(col("term").startsWith(norm))
      .orderBy(col("df").desc, col("term").asc)
      .limit(k)
  }

  /** Facet counts for a result set: the hits joined back to the corpus
    * and counted per facet value — the SERP sidebar aggregation. One
    * docId join (result-sized, so typically broadcast) + a map-combined
    * count. Output: (facetCol, cnt).
    */
  def facetCounts(ranked: DataFrame, docs: DataFrame,
      facetCol: String): DataFrame =
    ranked.select(col("docId")).join(docs, "docId")
      .groupBy(col(facetCol)).agg(count(lit(1)).as("cnt"))

  /** Grep mode — the third serving extension: case-sensitive literal
    * substring search over the RAW body (code-grep), ranked by
    * occurrence count (non-overlapping, docId ties). One narrow pass
    * over the corpus relation; a persisted deployment uses
    * [[graft.index.GramIndex.substringSearchIndexed]]'s gram-routed
    * plan instead. Same loud-without-rawDocs contract as
    * [[phraseQuery]]'s.
    */
  def grepQuery(needle: String): DataFrame = {
    val docs = rawDocs.getOrElse(throw new IllegalStateException(
      "grep queries need the raw corpus — construct QueryEngine with " +
        "rawDocs = Some(docs)"))
    if (needle.isEmpty) scoredEmpty
    else graft.index.GramIndex.grepStats(docs, "docId", "body", needle)
      .select(col("docId"), col("n_matches").cast("double").as("score"))
      .orderBy(col("score").desc, col("docId").asc)
  }

  /** Symbol mode — files DEFINING the queried name (ctags-ranked code
    * search): the [[graft.pipeline.CodeOps.symbolSearch]] transform over
    * the RAW body, scored monotonically in (strongest defining kind,
    * definition count) so the (docId, score) serving contract holds; a
    * persisted deployment uses
    * [[graft.index.SymbolIndex.searchIndexed]]'s routed single-shard
    * plan instead. Same loud-without-rawDocs contract as [[grepQuery]].
    */
  def symbolQuery(name: String): DataFrame = {
    val docs = rawDocs.getOrElse(throw new IllegalStateException(
      "symbol queries need the raw corpus — construct QueryEngine with " +
        "rawDocs = Some(docs)"))
    val q = name.trim
    if (q.isEmpty) scoredEmpty
    else graft.pipeline.CodeOps.symbolSearch(
        graft.pipeline.CodeOps.symbolDefs(docs, "docId", "body"), q)
      .select(col("id").as("docId"),
        (col("weight").cast("double") * 1000000.0 + col("n_defs"))
          .as("score"))
      .orderBy(col("score").desc, col("docId").asc)
  }

  /** Subtoken mode — camelCase-aware identifier search over the RAW
    * body ([[graft.pipeline.CodeOps.subtokenSearch]]): every query
    * subtoken must appear in the file's subtoken stream, score = summed
    * subtoken tf. Same loud-without-rawDocs contract as [[grepQuery]].
    */
  def subtokenQuery(query: String): DataFrame = {
    val docs = rawDocs.getOrElse(throw new IllegalStateException(
      "subtoken queries need the raw corpus — construct QueryEngine with " +
        "rawDocs = Some(docs)"))
    if (query.trim.isEmpty) scoredEmpty
    else graft.pipeline.CodeOps.subtokenSearch(docs, "docId", "body", query)
      .select(col("id").as("docId"), col("sub_tf").cast("double").as("score"))
      .orderBy(col("score").desc, col("docId").asc)
  }

  /** Algorithm registry (reference server.go:39-53); unknown names fall
    * back to BM25. "Phrase", "Proximity", "Grep", "Symbol", and
    * "Subtoken" are this engine's extension modes — every reference name
    * resolves exactly as the reference's registry does.
    */
  def byName(name: String): String => DataFrame =
    modes.applyOrElse(name, (_: String) => (q: String) => bm25Query(q))

  private def modes: PartialFunction[String, String => DataFrame] = {
    case "Classic TF-IDF" => vectorSpaceQuery
    case "Boolean" => booleanQuery
    case "Terms" => termsQuery
    case "Fuzzy" => fuzzyQuery
    case "Wildcard" => wildcardQuery
    case "Phrase" => phraseQuery
    case "Proximity" => proximityQuery
    case "Grep" => grepQuery
    case "Symbol" => symbolQuery
    case "Subtoken" => subtokenQuery
  }

  /** SERP page `page` (≥ 1, `perPage` results per page) of `alg`'s
    * ranking of `query`: the page's docIds in rank order and the total
    * result count. A BM25 page (unknown names fall back to BM25) over a
    * bundle from [[graft.index.BlockIndex.asBundle]] is ranked through
    * that directory's opened epoch, page and total in one job on small
    * candidate sets ([[graft.index.BlockIndex.bm25TopKWithTotal]]). A
    * Fuzzy or Wildcard page takes three jobs on any bundle while every
    * token's candidates are listed: the candidate probe, the fold
    * aggregate, which also gives the total, and the page's ascending
    * docIds. Every other ranking is persisted and counted, and
    * the page is read from the cached rows in one more job. A page past
    * the last result is empty, and no limit or offset is built for it.
    */
  def serpPage(alg: String, query: String, page: Int,
      perPage: Int = 5): (Seq[Long], Long) = {
    require(page >= 1, s"page must be >= 1, got $page")
    val skip = (page - 1).toLong * perPage
    lazy val expansion = expand(alg, query)
    index.blockDir.filterNot(_ => modes.isDefinedAt(alg)) match {
      case Some(dir) =>
        val (top, total) = graft.index.BlockIndex.bm25TopKWithTotal(
          spark, dir, query, page.toLong * perPage, k1, b)
        (if (skip >= top.size) Nil else top.drop(skip.toInt).map(_._1), total)
      case None if expansion.nonEmpty =>
        val e = expansion.get
        if (skip >= e.total) (Nil, e.total)
        else (e.firstIds((skip + perPage).toInt).drop(skip.toInt), e.total)
      case None =>
        // persisted so the ranking runs ONCE: the count fills the cache,
        // the page reads the cached partitions back, one job each (an RDD
        // count needs no exchange)
        val ranked = byName(alg)(query).select(col("docId"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val total = ranked.rdd.count()
          if (skip >= total) (Nil, total)
          else (QueryEngine.firstRows(ranked, (skip + perPage).toInt)
            .drop(skip.toInt).map(_.getLong(0)).toSeq, total)
        } finally ranked.unpersist()
    }
  }

  /** Rank-preserving materialization of result documents — the reference's
    * `Searcher.Query` + `storage.Get(ids)` (searcher.go:26-29). `ranked`
    * must carry docId (+ optional score) and be RESULT-PAGE sized (top-k
    * or a paginate output — every call site), so collecting it is bounded.
    *
    * The rank is pinned by collecting the ordered result ONCE and
    * rebuilding it as a broadcast local relation with an explicit rank
    * column — `collect` of an ordered plan preserves order by contract,
    * unlike the previous `monotonically_increasing_id()`-after-orderBy
    * capture, whose id assignment depends on physical partitioning and is
    * fragile under AQE coalescing/re-planning. The docs join then probes
    * the corpus with a broadcast hash join on the ≤page ids.
    */
  def materialize(ranked: DataFrame, docs: DataFrame): DataFrame = {
    val sp = ranked.sparkSession
    val rows = ranked.collect()
    val withRank = new java.util.ArrayList[org.apache.spark.sql.Row](rows.length)
    rows.zipWithIndex.foreach { case (r, i) =>
      withRank.add(org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i))
    }
    val schema = ranked.schema
      .add("__rank", org.apache.spark.sql.types.IntegerType, nullable = false)
    val pinned = sp.createDataFrame(withRank, schema)
    broadcast(pinned).join(docs, "docId").orderBy(col("__rank")).drop("__rank")
  }

  /** SERP pagination: 5 results per page (reference server.go:11,23-28). */
  def paginate(ranked: DataFrame, page: Int, perPage: Int = 5): DataFrame =
    ranked.offset((page - 1) * perPage).limit(perPage)
}

object QueryEngine {

  /** Largest fuzzy/wildcard candidate-term set per token the driver will
    * collect and push into the postings scan as an `In(term, …)` filter;
    * above it the candidates stay distributed and join by shuffle
    * ([[QueryEngine.candidates]]). Same order of magnitude as the WAND
    * SurvivorCap: thousands of strings are driver-trivial, millions are
    * not.
    */
  val CandidateInCap = 4096

  /** A token's candidate terms: listed (≤ [[CandidateInCap]]) or left
    * distributed as a (term) relation.
    */
  private[query] sealed trait Candidates { def listed: Seq[String] = Nil }
  private[query] final case class Listed(override val listed: Seq[String])
      extends Candidates
  private[query] final case class Wide(terms: DataFrame) extends Candidates

  /** At most `m` probe terms per token from each partition. */
  private def keepPerToken(rows: RDD[Row], n: Int, m: Int): RDD[Array[Array[String]]] =
    rows.mapPartitions { it =>
      val kept = Array.fill(n)(mutable.ArrayBuilder.make[String])
      val sizes = new Array[Int](n)
      it.foreach { r =>
        r.getSeq[Int](2).foreach { i =>
          if (sizes(i) < m) { kept(i) += r.getString(0); sizes(i) += 1 }
        }
      }
      Iterator(kept.map(_.result()))
    }

  /** The best probe row per token by (edit distance asc, df desc, term
    * asc): each partition sends its best, the driver merges them.
    * Analyzer tokens are ASCII, where [[Analyzer.editDistance]] equals
    * Spark's `levenshtein`.
    */
  private def bestPerToken(rows: RDD[Row], toks: IndexedSeq[String]): Map[Int, String] = {
    val order = Ordering.by[(Int, Long, String), (Int, Long, String)] {
      case (d, df, t) => (d, -df, t)
    }
    rows.mapPartitions { it =>
      val best = mutable.Map.empty[Int, (Int, Long, String)]
      it.foreach { r =>
        val (term, df) = (r.getString(0), r.getLong(1))
        r.getSeq[Int](2).foreach { i =>
          val c = (Analyzer.editDistance(toks(i), term), df, term)
          if (best.get(i).forall(order.gt(_, c))) best(i) = c
        }
      }
      best.iterator
    }.collect().groupMapReduce(_._1)(_._2)(order.min).view.mapValues(_._3).toMap
  }

  /** The statistics that decide the reference's reset-on-empty fold over
    * n tokens (searcher.go:147-151, 182-185): for each start token s, the
    * longest run of consecutive tokens from s that one doc covers
    * (`maxRun(s)`, max over docs) and the number of docs covering all of
    * s..n-1 (`cover(s)`) — 2n values whatever the token count. The
    * intersection of tokens s..i is empty iff maxRun(s) < i-s+1, so
    * [[replay]] repeats the fold exactly.
    */
  private[graft] final class FoldTally(val maxRun: Array[Int], val cover: Array[Long])
      extends Serializable {
    def add(covered: java.util.BitSet): FoldTally = {
      val n = maxRun.length
      var run = 0
      for (s <- n - 1 to 0 by -1) {
        run = if (covered.get(s)) run + 1 else 0
        if (run > maxRun(s)) maxRun(s) = run
        if (run == n - s) cover(s) += 1
      }
      this
    }

    def merge(o: FoldTally): FoldTally = {
      for (s <- maxRun.indices) {
        maxRun(s) = math.max(maxRun(s), o.maxRun(s))
        cover(s) += o.cover(s)
      }
      this
    }

    /** The fold replayed: (s, docs) where the last reset started the final
      * intersection of tokens s..n-1, which holds `docs` documents. The
      * first token starts it; a later token i restarts it when tokens
      * s..i-1 intersect to nothing.
      */
    def replay: (Int, Long) = {
      var s = 0
      for (i <- 1 until maxRun.length) if (maxRun(s) < i - s) s = i
      (s, cover(s))
    }
  }

  private[graft] object FoldTally {
    def empty(n: Int): FoldTally = new FoldTally(new Array[Int](n), new Array[Long](n))

    /** The tally of a (docId, toks) relation, in one job. */
    def of(covered: DataFrame, n: Int): FoldTally =
      covered.queryExecution.toRdd.mapPartitions { docs =>
        Iterator(docs.foldLeft(empty(n)) { (tally, doc) =>
          val toks = new java.util.BitSet(n)
          doc.getArray(1).toIntArray.foreach(toks.set)
          tally.add(toks)
        })
      }.fold(empty(n))(_ merge _)
  }

  /** The first `n` rows of `rel` in ONE job: every partition sends its
    * first `n` rows at once, where a limit scans partitions incrementally,
    * a job per step. The rows keep `rel`'s order when it is sorted (a
    * sorted plan's partitions are in order). The driver holds at most
    * partitions × `n` rows, as a limit's widest step does.
    */
  private[query] def firstRows(rel: DataFrame, n: Int): Array[org.apache.spark.sql.Row] =
    rel.rdd.mapPartitions(rows => Iterator(rows.take(n).toArray)).collect()
      .flatten.take(n)

  /** SERP near-duplicate collapse: drop any hit whose sketch is within
    * `maxHamming` bits of a HIGHER-ranked hit (rank = score desc, docId
    * asc). This is the PREDECESSOR rule, not MOSS/Lucene's greedy
    * leader walk: a hit is dropped if ANY higher hit is similar, kept
    * or not — on a chain A~B~C (A≁C) greedy keeps C, this rule drops
    * it. Chosen deliberately: the rule is relational (one bounded
    * self-join — exact at any scale with no driver-side sequencing),
    * deterministic, and strictly more aggressive, which is the safe
    * direction for result diversity. `hits` is (docId, score), top-k
    * bounded by the caller; `sims` maps docId → 64-bit sketch
    * ([[graft.pipeline.Dedup.simhash64]]). Output: surviving hits,
    * (score desc, docId) order.
    */
  def collapseSimilarHits(hits: DataFrame, sims: DataFrame,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0, s"maxHamming must be >= 0, got $maxHamming")
    // broadcast the k-row hits side; the corpus-sized sims relation
    // STREAMS and is semi-reduced to hit docIds by the join — the
    // subsequent self-join then runs over ≤ k rows
    val h = sims.select(col("docId"), col("simhash"))
      .join(broadcast(hits.select(col("docId"), col("score"))), "docId")
      .select(col("docId"), col("score"), col("simhash"))
    val higher = col("b.score") > col("a.score") ||
      (col("b.score") === col("a.score") && col("b.docId") < col("a.docId"))
    val near = bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))) <=
      maxHamming
    val dropped = h.as("a").join(h.as("b"), higher && near, "left_semi")
      .select(col("docId"))
    hits.join(dropped, Seq("docId"), "left_anti")
      .orderBy(col("score").desc, col("docId").asc)
  }

  /** Repository-grouped results (the GitHub-code-search "group by repo"
    * SERP view): scored hits collapsed to one row per group — best score,
    * the doc achieving it (min docId on score ties — deterministic), and
    * the group's hit count — ranked (best_score desc, n_files desc, key).
    * `hits` is a (docId, score) relation, top-k bounded by the caller, so
    * the metadata join is hit-sized (broadcast) and the groupBy touches
    * ≤ k rows; the corpus-sized `meta` relation is never shuffled. The
    * argmax is one `max(struct(score, −docId))` — no window.
    */
  def groupHitsBy(hits: DataFrame, meta: DataFrame,
      keyCol: String): DataFrame =
    meta.join(broadcast(hits.select(col("docId"), col("score"))), "docId")
      .groupBy(col(keyCol))
      .agg(max(struct(col("score"), (-col("docId")).as("negId"))).as("__b"),
        count(lit(1)).cast("long").as("n_files"))
      .select(col(keyCol), col("__b.score").as("best_score"),
        (-col("__b.negId")).cast("long").as("best_doc"), col("n_files"))
      .orderBy(col("best_score").desc, col("n_files").desc, col(keyCol))

  /** Simple BM25F (Robertson & Zaragoza 2004/2009 §3.3, the "weighted
    * field concatenation" variant): per-field term frequencies and
    * lengths are combined with field weights BEFORE the BM25 saturation,
    * so a title hit saturates like `wTitle` body hits —
    *   wtf_t,d = Σ_f w_f · tf_f,  wdl_d = Σ_f w_f · len_f,
    *   score   = Σ_t qcnt · idf_t · wtf·(k1+1) / (k1·(1−b+b·wdl/avgwdl) + wtf).
    * The flat engine indexes title and body as one undifferentiated
    * stream (reference searcher.go:272-286), so field boosts are
    * inexpressible there; this extension derives fielded stats straight
    * from the corpus relation. idf keeps the engine's vocabulary-size
    * convention (log10(V/df), [[graft.index.IndexBundle.idfCol]]) so the
    * two scorers agree on term rarity.
    *
    * Shape at scale: ONE map-combined (docId, term) aggregation over the
    * weight-tagged union of the two token streams produces wtf; df and
    * V are post-agg reductions of it; wdl is a narrow per-doc column;
    * the scalar avgwdl/V ride in via broadcast cross joins. Output:
    * (docId, score) ordered (score desc, docId asc).
    */
  def bm25F(docs: DataFrame, query: String,
      wTitle: Double = 2.0, wBody: Double = 1.0,
      k1: Double = 0.9, b: Double = 0.4,
      topK: Option[Int] = None): DataFrame = {
    val sp = docs.sparkSession
    import sp.implicits._
    val toks = Analyzer.tokenize(query)
    if (toks.isEmpty)
      return Seq.empty[(Long, Double)].toDF("docId", "score")
    val qdf = toks.groupBy(identity).view.mapValues(_.size).toSeq
      .toDF("term", "qcnt")
    val stream = docs.select(col("docId"),
        explode(Analyzer.tokensCol(col("title"))).as("term"),
        lit(wTitle).as("__w"))
      .union(docs.select(col("docId"),
        explode(Analyzer.tokensCol(col("body"))).as("term"),
        lit(wBody).as("__w")))
    val wtf = stream.groupBy(col("docId"), col("term"))
      .agg(sum(col("__w")).as("wtf"))
    val dfRel = wtf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val vocab = dfRel.agg(count(lit(1)).cast("double").as("__v"))
    val wdl = docs.select(col("docId"),
      (lit(wTitle) * size(Analyzer.tokensCol(col("title"))) +
        lit(wBody) * size(Analyzer.tokensCol(col("body"))))
        .cast("double").as("wdl"))
    val avg = wdl.agg((sum(col("wdl")) / count(lit(1))).as("__avgwdl"))
    val weight = IndexBundle.bm25Weight(IndexBundle.idfCol(col("__v"), col("df")),
      col("wtf"), col("wdl"), col("__avgwdl"), k1, b)
    val scored = wtf
      .join(broadcast(qdf), "term")
      .join(dfRel, "term")
      .join(wdl, "docId")
      .crossJoin(broadcast(vocab))
      .crossJoin(broadcast(avg))
      .groupBy(col("docId"))
      .agg(sum(col("qcnt") * weight).as("score"))
      .orderBy(col("score").desc, col("docId").asc)
    topK.fold(scored)(scored.limit)
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Buettcher, SIGIR'09) of N
    * ranked lists — the standard score-free combiner for HYBRID search
    * (lexical BM25 ranks ⊕ embedding-ANN ranks):
    *
    *   rrf(d) = Σ_lists 1 / (k + rank_list(d)),  absent ⇒ contributes 0
    *
    * Rank-based fusion needs no score calibration between retrieval
    * families, which is exactly why it wins for BM25 × cosine. Inputs
    * are (docId, rank) relations — produced by the already-distributed
    * rankers (bm25TopK, bruteForceTopK, lshTopK...); fusion itself is a
    * union + ONE map-combined aggregation over lists' top-k rows only.
    */
  def rrfFuse(
      rankings: Seq[DataFrame],
      kRrf: Int = 60,
      topK: Option[Int] = None): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    require(kRrf > 0, s"kRrf must be positive, got $kRrf")
    val tagged = rankings.map(_.select(col("docId"), col("rank")))
      .reduce(_ unionByName _)
    val fused = tagged.groupBy(col("docId"))
      .agg(round(sum(lit(1.0) / (lit(kRrf) + col("rank"))), 6).as("rrf"))
      .orderBy(col("rrf").desc, col("docId").asc)
    topK.fold(fused)(fused.limit)
  }

  /** Retrieve-then-rerank (two-stage retrieval): keep the lexical
    * top-`candidates` of `hits` and REORDER them by embedding cosine to
    * the query vector — the classic recall-stage / precision-stage split
    * (cheap lexical retrieval bounds the candidate set, the expensive
    * semantic comparison runs only on survivors). Contrast [[rrfFuse]],
    * which merges two INDEPENDENT full rankings; here the semantic score
    * never sees a doc the lexical stage didn't surface.
    *
    * Determinism discipline: the candidate cut ranks 6dp-rounded scores
    * with docId ties via orderBy + limit (TakeOrdered — no global
    * window); `lex_rank` is then a window over the ≤`candidates`-row
    * survivor set only. Candidates with no embedding row keep sim −1
    * (sunk to the bottom, never silently dropped — the lexical recall
    * stage's promise holds). The embeddings relation is joined against
    * the bounded candidate set, never scanned into the reorder.
    *
    * Output: (docId, lex_rank, sim), sim 6dp, ordered sim desc / docId
    * asc, limited to `topK` if given.
    */
  def rerankByEmbedding(
      hits: DataFrame, queryVec: Array[Float], embeddings: DataFrame,
      candidates: Int = 100, topK: Option[Int] = None,
      vecIdCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(candidates >= 1, s"candidates must be >= 1, got $candidates")
    val cut = hits.select(col("docId"), round(col("score"), 6).as("__s"))
      .orderBy(col("__s").desc, col("docId").asc)
      .limit(candidates)
    val wLex = org.apache.spark.sql.expressions.Window
      .orderBy(col("__s").desc, col("docId").asc)
    val cand = cut.withColumn("lex_rank", row_number().over(wLex))
    val qv = array(queryVec.map(x => lit(x.toDouble)): _*)
    val emb = embeddings.select(
      col(vecIdCol).cast("long").as("docId"), col(vecCol).as("__v"))
    val reranked = cand.join(emb, Seq("docId"), "left")
      .select(col("docId"), col("lex_rank"),
        when(col("__v").isNull, lit(-1.0))
          .otherwise(round(graft.pipeline.Similarity.cosine(qv, col("__v")), 6))
          .as("sim"))
      .orderBy(col("sim").desc, col("docId").asc)
    topK.fold(reranked)(reranked.limit)
  }

  /** Blend text relevance with a query-independent document prior
    * (web ranking's classic BM25 × PageRank composition):
    *
    *   blended(d) = α·score(d)/max_hits(score) + (1−α)·prior(d)/max(prior)
    *
    * Both inputs are max-normalized onto [0,1] — score over the HIT set
    * (the only scores that exist), prior over its whole relation (the
    * corpus-wide authority scale) — so α weighs comparable quantities.
    * Hits without a prior (a doc outside the link graph) take prior 0.
    * Callers round both inputs first (6dp discipline) and the output is
    * rounded 6dp, so blending reproduces across engines.
    *
    * Shape: two scalar maxima ride in as broadcast cross joins; the
    * prior joins the (already small) hit relation — the full prior
    * relation is never shuffled by this operator.
    *
    * @param hits  (docId, score) — e.g. a BM25 result, score desc
    * @param prior (docId, prior) — e.g. [[graft.pipeline.GraphOps.pageRank]]
    */
  def blendWithPrior(
      hits: DataFrame,
      prior: DataFrame,
      alpha: Double = 0.8,
      topK: Option[Int] = None): DataFrame = {
    require(alpha >= 0 && alpha <= 1, s"alpha must be in [0,1], got $alpha")
    val bmax = hits.agg(max(col("score")).as("__bm"))
    val pmax = prior.agg(max(col("prior")).as("__pm"))
    val blended = hits
      .join(prior, Seq("docId"), "left")
      .crossJoin(broadcast(bmax))
      .crossJoin(broadcast(pmax))
      .select(col("docId"),
        // an empty prior relation makes __pm NULL; treat it as "no
        // prior signal anywhere" (prior term 0), not NULL-poisoned rows
        round(lit(alpha) * col("score") / col("__bm") +
          lit(1 - alpha) * coalesce(col("prior"), lit(0.0)) /
            coalesce(col("__pm"), lit(1.0)), 6)
          .as("blended"))
      .orderBy(col("blended").desc, col("docId").asc)
    topK.fold(blended)(blended.limit)
  }
}
