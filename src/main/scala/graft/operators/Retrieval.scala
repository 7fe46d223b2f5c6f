package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Sparse (lexical) retrieval over the `documents` table — the text-side
  * counterpart of the dense [[Similarity]] tier: an inverted index and
  * BM25-ranked keyword search, the scoring that backs corpus search,
  * hard-negative mining, and retrieval-augmented data curation.
  *
  * Reference scope: the reference engine has no retrieval operators at all
  * (its only text processing is the word-count UDF pair,
  * `test/user_tasks.cc:12-34`); both operators here are north-star
  * extensions built from the same verified aggregation/join primitives as
  * the rest of the engine.
  *
  * Determinism: BM25's classic idf is a `ln` — libm, not bit-stable across
  * engines. Like `ta_salience`, the idf here is the RATIONAL form
  * (N − df + 0.5)/(df + 0.5): per-term monotone-equivalent to the log form
  * (both decrease in df), so rankings for single-term queries are identical
  * and multi-term scores stay a deterministic composition of IEEE ops that
  * DuckDB reproduces bit-for-bit. Per-document term contributions are
  * summed through DECIMAL(38,18) (exact, order-independent) so the score
  * does not depend on aggregation order.
  *
  * Scale shape (100 TB): the token explode is pruned to the query terms
  * BEFORE any exchange (a narrow filter on the generator output), so the
  * per-term stream entering the tf aggregation is |matching tokens|, not
  * |corpus tokens|. The df and corpus-stats sides are term-cardinality and
  * one-row aggregates respectively — both broadcast. Only the final top-k
  * runs as TakeOrderedAndProject (per-partition heap + driver merge).
  */
object Retrieval {

  /** The fixed keyword query for the gate (terms present in the corpus
    * vocabulary with distinct document frequencies).
    */
  val Bm25Terms: Seq[String] = Seq("spark", "hash", "window")

  /** BM25 result-list size. (k1 = 1.2 and b = 0.75 — the standard Robertson
    * defaults — appear as literals `2.2`/`1.2`/`0.25`/`0.75` in BOTH the
    * Spark expression and the oracle SQL so the arithmetic trees match
    * exactly; keep them in sync textually.)
    */
  val Bm25K = 20

  /** Snippet window width (tokens) for [[queries rt_snippet]]. */
  val SnipW = 8

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Search-result snippet extraction: for every document matching a
    // [[Bm25Terms]] term, the best [[SnipW]]-token window — most DISTINCT
    // query terms, ties to the earliest start — anchored at a hit position
    // (anchoring is part of the contract AND the classic normalization: for
    // any window there is a hit-anchored one covering at least as many
    // distinct terms, obtained by sliding right to its first hit). Shape:
    // the positional hit stream is sparse (query terms only — the
    // rt_phrase_search pruning), the window census is a per-doc hits×hits
    // band join (bounded by per-doc HIT count, never doc length), the
    // per-doc argmax runs under WindowGroupLimit, and the snippet text is
    // one slice of the stored token array.
    "rt_snippet" -> { (s, dir) =>
      val docs = tokenStore(s, dir)
      val hits = Dedup.materialized(docs
        .select(col("doc_id"), posexplode(col("ts")).as(Seq("pos0", "term")))
        .filter(col("term").isin(Bm25Terms: _*))
        .select(col("doc_id"), (col("pos0") + 1).cast("long").as("pos"), col("term"))
        .transform(Dedup.spread("doc_id")))
      val w = Window.partitionBy("doc_id").orderBy(col("n_terms").desc, col("start").asc)
      hits.select(col("doc_id"), col("pos").as("start"))
        .join(hits.select(col("doc_id"), col("pos"), col("term")), Seq("doc_id"))
        .filter(col("pos") >= col("start") && col("pos") < col("start") + SnipW)
        .groupBy("doc_id", "start")
        .agg(countDistinct(col("term")).as("n_terms"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .join(docs, "doc_id")
        .select(col("doc_id"), col("start"), col("n_terms"),
          concat_ws(" ", slice(col("ts"), col("start").cast("int"), lit(SnipW))).as("snippet"))
        .orderBy("doc_id")
    },

    // Inverted index: term → document frequency + the sorted posting list.
    // Distinct (doc, term) pairs via per-doc distinct token arrays (dedup
    // happens inside the array before the explode — the exchange carries
    // one row per POSTING, never per occurrence). Postings ride as a
    // comma-joined string (the gate hash-compares scalar columns; same
    // convention as q32). At 100 TB the posting list of a stop-term is the
    // classic skew cell — production would cap or tier those lists; here
    // the corpus vocabulary is small and every list is exact.
    "rt_inverted_index" -> { (s, dir) =>
      tokenStore(s, dir)
        .select(col("doc_id"), explode(array_distinct(col("ts"))).as("term"))
        .groupBy("term")
        .agg(
          count(lit(1)).as("df"),
          array_join(
            transform(array_sort(collect_list(col("doc_id"))), _.cast("string")),
            ",").as("postings"))
        .orderBy("term")
    },

    // Posting-list HISTOGRAM — the index-health artifact a search
    // deployment reads before assigning stop lists or tiering long posting
    // lists (the skew cell called out at rt_inverted_index): per
    // power-of-two document-frequency bucket, the number of distinct terms,
    // total posting entries, and each bucket's share of the whole index —
    // a heavy top bucket means stop-term explosion, a heavy bottom bucket
    // means hapax bloat. Zero libm: the bucket is ⌊log2(df)⌋ computed as a
    // pure integer comparison ladder against power-of-two literals
    // (mirrored textually in the oracle — the PoissonCdfPpm device). Shape:
    // one hash aggregation over the vocabulary-sized STORED df table
    // ([[dfStore]] — the index is read as-is, the corpus is not
    // re-tokenized), grand total from the ≤31-row histogram itself (see
    // [[dfHistogram]]); output is ≤ log2(n_docs) rows at any scale.
    "rt_df_histogram" -> { (s, dir) =>
      dfHistogram(dfStore(s, dir))
    },

    // Stored-structure LIFECYCLE under corpus CHANGE — the staleness
    // contract every stored artifact in this engine (df tables, IVF cells,
    // BPE merges, posting lists) hits daily at lake scale: a landing batch
    // arrives AFTER the index was built, and the index must be maintained,
    // not trusted stale and not rebuilt from scratch. This query maintains
    // the df table INCREMENTALLY: the stale base index (built from the
    // pre-landing corpus partition only, stored — [[baseDfStore]]) is
    // merged with a live delta aggregated from the landing batch alone
    // (the dd_incremental 80/20 landing shape), by a full-outer term join
    // — O(|vocab| + |batch tokens|), never a corpus re-tokenization. One
    // honesty note on the delta side: here it filters the session-pinned
    // FULL token store down to the landing bucket, so the filter input is
    // O(|corpus token rows|) — a SIMULATION of the landing batch, since
    // this corpus has no separate landing table. In production the batch
    // arrives as its own table and the delta reads ONLY it; the claimed
    // O(|vocab| + |batch tokens|) bound is about the explode/aggregate/
    // merge-join work, which is batch-sized either way. The
    // oracle is rt_df_histogram's FROM-SCRATCH full-corpus rebuild, so the
    // hash match proves merge(stale, delta) ≡ rebuild(union) exactly; the
    // stale-read-vs-maintained-read distinction (the base table alone
    // yields a DIFFERENT histogram) is spec-asserted in RetrievalSpec.
    "rt_df_incremental" -> { (s, dir) =>
      dfHistogram(mergedDfStore(s, dir))
    },

    // BM25-ranked keyword search for [[Bm25Terms]]: score(d) =
    // Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)).
    "rt_bm25" -> { (s, dir) =>
      // Three consumers of the tokenized corpus (tf, corpus stats, dl join)
      // share the session-pinned token store.
      val docs = tokenStore(s, dir)
      val dls = docs.select(col("doc_id"), size(col("ts")).cast("double").as("dl"))
      val stats = dls.agg(
        count(lit(1)).cast("double").as("n_docs"),
        (sum(col("dl").cast("long")).cast("double") / count(lit(1))).as("avgdl"))
      val tf = docs.select(col("doc_id"), explode(col("ts")).as("term"))
        .filter(col("term").isin(Bm25Terms: _*))
        .groupBy("doc_id", "term")
        .agg(count(lit(1)).cast("double").as("tf"))
      val df = tf.groupBy("term").agg(count(lit(1)).cast("double").as("df"))
      tf.join(broadcast(df), "term") // bounded: |query terms| df rows
        .join(broadcast(stats)) // bounded: one row
        .join(dls, "doc_id")
        .select(col("doc_id"),
          ((((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
            * (col("tf") * lit(2.2)))
            / (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl") / col("avgdl")))))
            .as("c"))
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_terms"),
          sum(col("c").cast(DecimalType(38, 18))).cast("double").as("score"))
        .orderBy(col("score").desc, col("doc_id").asc)
        .limit(Bm25K)
    },

    // Hybrid retrieval: reciprocal-rank fusion (RRF) of the dense (embedding
    // cosine) and sparse (3-gram Jaccard) rankings for each query document —
    // the standard fusion behind production RAG / hard-negative mining
    // stacks (Cormack et al. 2009): score(d) = Σ_lists 1/(C + rank_d), a
    // rank-only combination immune to the two systems' incomparable score
    // scales. Determinism: ranks are row_numbers with total-order
    // tie-breaks, and the fused score is ONE two-term IEEE tree
    // (1/(60+rd) + 1/(60+rl)) both engines evaluate identically — no libm,
    // no accumulation-order dependence.
    // Scale shape (100 TB): the query side is BOUNDED (NQueries docs) —
    // its shingle set broadcasts, so the corpus-side posting stream is
    // filtered by an equality broadcast join before any exchange (the
    // dd_contamination shape); the dense side is the bounded-query
    // brute-force scan (the ss_topk_bruteforce baseline — an ANN tier
    // replaces it at corpus-×-corpus scale); the fusion itself joins two
    // ≤ NQueries×ListK rank lists — negligible at any scale.
    "rt_hybrid_rrf" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      // Dense ranks: exact cosine of each corpus vector against the query set.
      val e = Similarity.vecs(s, dir)
      val qv = e.filter(col("vec_id") < Similarity.NQueries)
        .select(col("vec_id").as("query_id"), col("v").as("qv"))
      val wD = Window.partitionBy("query_id").orderBy(col("cos").desc, col("doc_id").asc)
      val dense = qv.join(e, col("query_id") =!= col("vec_id"))
        .select(col("query_id"), col("vec_id").as("doc_id"),
          Similarity.cosine(col("qv"), col("v")).as("cos"))
        .withColumn("rd", row_number().over(wD)).filter(col("rd") <= RrfListK)
        .select("query_id", "doc_id", "rd")
      // Lexical ranks: query shingle sets broadcast; candidates from the
      // shingle-EQUALITY join; exact Jaccard over the full sets.
      val sh = Dedup.shingleStore(s, dir)
      val qsh = sh.filter(col("doc_id") < Similarity.NQueries)
        .select(col("doc_id").as("query_id"), col("shingles").as("qs"))
      val qg = qsh.select(col("query_id"), explode(col("qs")).as("sng"))
      val cands = sh.select(col("doc_id"), explode(col("shingles")).as("sng"))
        .join(broadcast(qg), "sng") // bounded: query-gram set
        .filter(col("doc_id") =!= col("query_id"))
        .select("query_id", "doc_id").distinct()
      val wL = Window.partitionBy("query_id").orderBy(col("jac").desc, col("doc_id").asc)
      val lex = cands
        .join(broadcast(qsh), "query_id") // bounded: |queries| rows
        .join(sh, "doc_id")
        .select(col("query_id"), col("doc_id"),
          (size(array_intersect(col("qs"), col("shingles"))).cast("double") /
            (size(col("qs")) + size(col("shingles"))
              - size(array_intersect(col("qs"), col("shingles"))))).as("jac"))
        .withColumn("rl", row_number().over(wL)).filter(col("rl") <= RrfListK)
        .select("query_id", "doc_id", "rl")
      // Fuse: full-outer on (query, doc); a doc missing from one list
      // contributes nothing for that system.
      val wF = Window.partitionBy("query_id").orderBy(col("rrf").desc, col("doc_id").asc)
      dense.join(lex, Seq("query_id", "doc_id"), "full_outer")
        .select(col("query_id"), col("doc_id"),
          (coalesce(lit(1.0) / (lit(60.0) + col("rd")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60.0) + col("rl")), lit(0.0))).as("rrf"))
        .withColumn("rnk", row_number().over(wF)).filter(col("rnk") <= RrfTopK)
        .select("query_id", "rnk", "doc_id", "rrf")
        .orderBy("query_id", "rnk")
    },

    // Pseudo-relevance-feedback query expansion (Rocchio/RM-family): run
    // the seed BM25 query, treat its top FbDocs results as pseudo-relevant,
    // promote their FbTerms strongest non-query terms (feedback tf DESC,
    // corpus df ASC as the rarity tie-break — the idf-monotone order, no
    // libm), and rank the corpus under the EXPANDED query with the same
    // BM25 arithmetic — the second-pass recall lever behind classic IR and
    // retrieval-augmented curation stacks. Determinism: stage-1 top docs
    // cut on (score DESC, doc_id) total order; term promotion on integer
    // (fb_tf, cdf, term); stage 2 is the proven rt_bm25 expression over a
    // term FRAME (broadcast semi-join instead of the literal isin — the
    // expanded set is data-dependent). Scale: both stages keep the rt_bm25
    // shape (term-pruned posting stream before any exchange, broadcast
    // df/stats); the feedback tier touches FbDocs documents.
    "rt_prf_expansion" -> { (s, dir) => prfRanked(s, dir) },

    // nDCG@k ranking-quality evaluation of the BM25 ranking — the IR-eval
    // observability artifact beside ss_ann_recall: graded relevance is the
    // deterministic proxy rel(d) = #distinct query terms in d (the
    // n_terms column the scorer already computes), gains 2^rel − 1, and
    // discounts 1/log2(i+1) as INTEGER-PPM LITERALS shared textually with
    // the oracle (the BenfordPpm doctrine — never runtime libm), so
    // DCG@k is an exact integer. Ideal DCG needs no sort: it collapses to
    // the corpus's (n3, n2, n1) relevance counts against the PREFIX-SUM
    // literal table. nDCG is one boundary division of exact integers.
    // Rank positions come from the distributed numbering path (k rows —
    // but never an unpartitioned window).
    "rt_ndcg" -> { (s, dir) =>
      val docs = tokenStore(s, dir)
      val scored = Dedup.materialized(bm25Ranked(docs, termFrame(s, Bm25Terms)))
      val topK = scored.orderBy(col("score").desc, col("doc_id").asc).limit(NdcgK)
      val ranked = Pipeline.globalRowNumbers(
        s, topK, "i", negate(col("score")), col("doc_id"))
      val wArr = array(NdcgWPpm.map(lit): _*)
      val gain = when(col("n_terms") === 3, 7L)
        .when(col("n_terms") === 2, 3L).otherwise(1L)
      val dcg = ranked
        .agg(sum(gain * element_at(wArr, col("i").cast("int"))).as("dcg_q"))
      val pwArr = array(NdcgPWPpm.map(lit): _*)
      def pw(m: org.apache.spark.sql.Column) =
        element_at(pwArr, (least(lit(NdcgK.toLong), m) + 1).cast("int"))
      val cnts = scored.agg(
        sum(when(col("n_terms") === 3, 1L).otherwise(0L)).as("n3"),
        sum(when(col("n_terms") === 2, 1L).otherwise(0L)).as("n2"),
        sum(when(col("n_terms") === 1, 1L).otherwise(0L)).as("n1"))
      dcg.crossJoin(broadcast(cnts)) // bounded: one row
        .select(lit(NdcgK).as("k"), col("dcg_q"),
          (lit(7L) * pw(col("n3")) +
            lit(3L) * (pw(col("n3") + col("n2")) - pw(col("n3"))) +
            (pw(col("n3") + col("n2") + col("n1")) - pw(col("n3") + col("n2"))))
            .as("idcg_q"))
        .select(col("k"), col("dcg_q"), col("idcg_q"),
          (col("dcg_q").cast("double") / col("idcg_q").cast("double")).as("ndcg"))
    },

    // Exact PHRASE search over a positional index — the query class the
    // unigram inverted index cannot answer ("slow hash batch" as consecutive
    // tokens, not a bag). The classic plan is a chain of k−1 positional
    // self-joins (term_i at pos p joins term_{i+1} at p+1); this operator
    // uses the ANCHOR formulation instead: each posting of phrase-slot i at
    // position p votes for anchor p − i, and an exact occurrence exists
    // precisely where one (doc, anchor) cell collects ALL k distinct slots —
    // consecutive-position equations rewritten as equality on one derived
    // key, so the whole phrase match is ONE hash aggregation, no join at
    // any k. Scale: postings are pruned to the phrase's terms by a narrow
    // filter on the generator output (the rt_bm25 pruning argument), the
    // (doc, anchor) key is finer than doc_id (no skew cell), and a term
    // repeated in the phrase simply votes for several anchors (the slot
    // explode) — `countDistinct(slot) = k` stays the exact occurrence test.
    "rt_phrase_search" -> { (s, dir) =>
      val k = PhraseTerms.length
      val slotsByTerm = PhraseTerms.zipWithIndex.groupMap(_._1)(_._2)
      val slotMap = map(slotsByTerm.toSeq.flatMap { case (t, is) =>
        Seq(lit(t), array(is.map(i => lit(i)): _*))
      }: _*)
      tokenStore(s, dir)
        .select(col("doc_id"), posexplode(col("ts")).as(Seq("pos", "token")))
        .filter(col("token").isin(PhraseTerms.distinct: _*))
        .select(col("doc_id"), col("pos"), explode(element_at(slotMap, col("token"))).as("slot"))
        .groupBy(col("doc_id"), (col("pos") - col("slot")).as("anchor"))
        .agg(countDistinct(col("slot")).as("nslots"))
        .filter(col("nslots") === k)
        .groupBy("doc_id").agg(count(lit(1)).as("n_occurrences"))
        .orderBy("doc_id")
    }
  )

  /** The gate phrase (consecutive tokens; present in the corpus). */
  val PhraseTerms: Seq[String] = Seq("slow", "hash", "batch")

  /** PRF parameters: pseudo-relevant depth and promoted-term count. */
  val FbDocs = 5
  val FbTerms = 3

  /** The rt_prf_expansion plan: the seed-query BM25 pass, the FbDocs cut,
    * the feedback-term promotion, and the second ranked pass over the
    * expanded term frame.
    */
  private def prfRanked(s: SparkSession, dir: String): DataFrame = {
    val docs = tokenStore(s, dir)
    val q0 = termFrame(s, Bm25Terms)
    val fb = Dedup.materialized(
      bm25Ranked(docs, q0).orderBy(col("score").desc, col("doc_id").asc)
        .limit(FbDocs).select("doc_id"))
    val cdf = dfStore(s, dir)
    val exp = docs.join(fb.hint("broadcast"), "doc_id") // bounded: FbDocs rows by construction
      .select(explode(col("ts")).as("term"))
      .filter(!col("term").isin(Bm25Terms: _*))
      .groupBy("term").agg(count(lit(1)).as("fb_tf"))
      .join(cdf, "term")
      .orderBy(col("fb_tf").desc, col("cdf").asc, col("term").asc)
      .limit(FbTerms)
      .select("term")
    val terms = Dedup.materialized(q0.unionByName(exp))
    bm25Ranked(docs, terms)
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(Bm25K)
  }

  /** nDCG cutoff and the discount literals: round(1e6 / log2(i+1)) for
    * ranks 1..10, plus their prefix sums (PW(0..10)) for the sort-free
    * ideal-DCG closed form — integer-ppm constants shared textually with
    * the oracle (the BenfordPpm doctrine), never recomputed via libm.
    */
  val NdcgK = 10
  val NdcgWPpm: Seq[Long] = Seq(
    1000000L, 630930L, 500000L, 430677L, 386853L,
    356207L, 333333L, 315465L, 301030L, 289065L)
  val NdcgPWPpm: Seq[Long] = Seq(
    0L, 1000000L, 1630930L, 2130930L, 2561607L, 2948460L,
    3304667L, 3638000L, 3953465L, 4254495L, 4543560L)

  private def termFrame(s: SparkSession, terms: Seq[String]): DataFrame = {
    import s.implicits._
    terms.toDF("term")
  }

  /** The tokenized corpus (doc_id, ts) as a session-pinned stored structure
    * ([[graft.sources.Stored.pinned]]) — the retrieval tier's ingest
    * artifact: production tokenizes once at index build, not per query.
    * Six rt_* queries previously re-ran scan→lower→split per invocation
    * (PRF's two BM25 passes re-ran it twice inside one query); now they
    * share one RAM-resident copy, and the stored parquet is the persisted
    * index-side table. Docs with zero tokens carry no postings, no length,
    * and no score in any consumer, so the ≥ 1 filter is semantics-free
    * for all of them (and matches the oracle's `len(ts) >= 1`).
    */
  private[graft] def tokenStore(s: SparkSession, dir: String): DataFrame =
    graft.sources.Stored.pinned("rt_tokens", dir, s)(
      graft.sources.Stored.materialize("rt_tokens", dir, s)(
        Relational.t(s, dir, "documents")
          .transform(Dedup.spread("doc_id"))
          .select(col("doc_id"), TextOps.tokens(col("text")).as("ts"))
          .filter(size(col("ts")) >= 1))
        .transform(Dedup.spread("doc_id")))

  /** Corpus document-frequency table (term, cdf) as a stored ingest
    * artifact — the df column of a production inverted index, computed once
    * at index build and read by every analysis that needs term rarity
    * (PRF's expansion-term ranking previously re-exploded the whole corpus
    * per invocation to rank a handful of feedback terms). Parquet-lazy, not
    * pinned: the table is vocabulary-sized and grows with the corpus.
    */
  private[graft] def dfStore(s: SparkSession, dir: String): DataFrame =
    graft.sources.Stored.materialize("rt_term_df", dir, s)(
      tokenStore(s, dir)
        .select(col("doc_id"), explode(array_distinct(col("ts"))).as("term"))
        .groupBy("term").agg(count(lit(1)).as("cdf")))

  /** Landing-batch split point (the dd_incremental shape): docs with
    * bucket < this are "already indexed", the rest are the landing batch.
    */
  val IndexedBucketCap: Int = Pipeline.LandingBucketCap

  /** The STALE base df table: document frequencies over the pre-landing
    * corpus partition only (bucket < [[IndexedBucketCap]]), stored — the
    * index artifact that predates the landing batch, read as-is by the
    * incremental-maintenance query. Parquet-lazy like [[dfStore]].
    */
  private[graft] def baseDfStore(s: SparkSession, dir: String): DataFrame =
    graft.sources.Stored.materialize("rt_term_df_base", dir, s)(
      tokenStore(s, dir)
        .filter(Pipeline.bucket(col("doc_id")) < IndexedBucketCap)
        .select(col("doc_id"), explode(array_distinct(col("ts"))).as("term"))
        .groupBy("term").agg(count(lit(1)).as("cdf")))

  /** The incrementally MAINTAINED df table: stale base ∪ landing-batch
    * delta, merged by a full-outer term join — O(|vocab| + |batch tokens|),
    * never a corpus re-tokenization. ONE definition for the
    * rt_df_incremental gate and RetrievalSpec's StaleStructureContract
    * term-level assertions (the no-drift discipline: the spec must compare
    * the plan the gate runs, not a restated merge).
    */
  private[graft] def mergedDfStore(s: SparkSession, dir: String): DataFrame = {
    val base = baseDfStore(s, dir)
    val delta = tokenStore(s, dir)
      .filter(Pipeline.bucket(col("doc_id")) >= IndexedBucketCap)
      .select(explode(array_distinct(col("ts"))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("dcdf"))
    base.join(delta, Seq("term"), "full_outer")
      .select(col("term"),
        (coalesce(col("cdf"), lit(0L)) + coalesce(col("dcdf"), lit(0L))).as("cdf"))
  }

  /** Power-of-two df histogram over a (term, cdf) frame — the shared shape
    * of rt_df_histogram (over the full stored index) and rt_df_incremental
    * (over the incrementally maintained merge). ONE hash aggregation over
    * the vocabulary-sized input; output is ≤ log2(n_docs) rows at any
    * scale. Zero libm: ⌊log2(df)⌋ is a pure integer comparison ladder
    * (mirrored textually in the oracle).
    *
    * The grand total is Σ n_postings over the HISTOGRAM (equal to Σ cdf
    * over the input by construction), taken via an unpartitioned window —
    * safe here and ONLY because the histogram is ≤ 31 rows by the ladder's
    * construction (allowlisted with an_skyline in the single-partition-
    * window plan audit). The alternative — a cross join against a
    * broadcast one-row aggregate of the input — plans the INPUT subtree
    * twice: harmless when the input is a stored parquet read, but for
    * rt_df_incremental it re-executed the whole stale+delta merge (caught
    * by the one-explode plan audit).
    */
  private def dfHistogram(df: DataFrame): DataFrame = {
    val bucket = (1 to 30).foldLeft(lit(0): Column) { (acc, k) =>
      when(col("cdf") >= lit(1L << k), lit(k)).otherwise(acc)
    }
    val wAll = Window.partitionBy()
    df.select(bucket.as("df_bucket"), col("cdf"))
      .groupBy("df_bucket")
      .agg(count(lit(1)).as("n_terms"), sum(col("cdf")).as("n_postings"))
      .select(col("df_bucket"), col("n_terms"), col("n_postings"),
        (col("n_postings").cast("double") /
          sum(col("n_postings")).over(wAll).cast("double"))
          .as("postings_share"))
      .orderBy("df_bucket")
  }

  /** BM25 scoring against a term FRAME (broadcast semi-join pruning — the
    * data-dependent-query form of rt_bm25's literal isin; arithmetic kept
    * token-identical to rt_bm25 and its oracle).
    */
  private def bm25Ranked(docs: DataFrame, terms: DataFrame): DataFrame = {
    val dls = docs.select(col("doc_id"), size(col("ts")).cast("double").as("dl"))
    val stats = dls.agg(
      count(lit(1)).cast("double").as("n_docs"),
      (sum(col("dl").cast("long")).cast("double") / count(lit(1))).as("avgdl"))
    val tf = docs.select(col("doc_id"), explode(col("ts")).as("term"))
      .join(broadcast(terms), "term") // bounded: |query terms| rows
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).cast("double").as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).cast("double").as("df"))
    tf.join(broadcast(df), "term") // bounded: |query terms| df rows
      .join(broadcast(stats)) // bounded: one row
      .join(dls, "doc_id")
      .select(col("doc_id"),
        ((((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
          * (col("tf") * lit(2.2)))
          / (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl") / col("avgdl")))))
          .as("c"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_terms"),
        sum(col("c").cast(DecimalType(38, 18))).cast("double").as("score"))
  }

  /** RRF parameters: per-system list depth, fused list depth. The RRF
    * constant C = 60 (Cormack et al.'s default) appears as the literal
    * `60` in BOTH the Spark expression and the oracle SQL — keep in sync.
    */
  val RrfListK = 20
  val RrfTopK = 10

  private val termList = Bm25Terms.map(t => s"'$t'").mkString(", ")

  /** The full gated BM25 statement — shared by rt_bm25 and (nested as a
    * CTE, the ss_ann_recall device) the nDCG evaluation twin.
    */
  private lazy val bm25OracleSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, list_filter(string_split_regex(lower(text), ' +'), t -> t <> '') AS ts
       |  FROM documents
       |), dls AS (
       |  SELECT doc_id, CAST(len(ts) AS DOUBLE) AS dl FROM d WHERE len(ts) >= 1
       |), st AS (
       |  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
       |    CAST(SUM(CAST(dl AS BIGINT)) AS DOUBLE) / COUNT(*) AS avgdl
       |  FROM dls
       |), tfq AS (
       |  SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf FROM (
       |    SELECT doc_id, UNNEST(ts) AS term FROM d WHERE len(ts) >= 1
       |  ) WHERE term IN ($termList) GROUP BY doc_id, term
       |), dfq AS (
       |  SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tfq GROUP BY term
       |)
       |SELECT doc_id, COUNT(*) AS n_terms,
       |  CAST(SUM(CAST(
       |    (((n_docs - df + 0.5) / (df + 0.5)) * (tf * 2.2))
       |      / (tf + 1.2 * (0.25 + 0.75 * (dl / avgdl)))
       |  AS DECIMAL(38,18))) AS DOUBLE) AS score
       |FROM tfq JOIN dfq USING (term) CROSS JOIN st JOIN dls USING (doc_id)
       |GROUP BY doc_id
       |ORDER BY score DESC, doc_id ASC LIMIT $Bm25K""".stripMargin

  /** From-scratch full-corpus df histogram (DuckDB): the shared twin of
    * rt_df_histogram and rt_df_incremental.
    */
  private def dfHistogramRebuildSql: String =
    s"""WITH d AS (
       |  SELECT doc_id,
       |    list_distinct(list_filter(string_split_regex(lower(text), ' +'), t -> t <> '')) AS ts
       |  FROM documents
       |), post AS (
       |  SELECT doc_id, UNNEST(ts) AS term FROM d
       |), df AS (
       |  SELECT term, COUNT(*) AS cdf FROM post GROUP BY term
       |), b AS (
       |  SELECT CASE ${(30 to 1 by -1)
           .map(k => s"WHEN cdf >= ${1L << k} THEN $k").mkString(" ")}
       |    ELSE 0 END AS df_bucket, cdf
       |  FROM df
       |), h AS (
       |  SELECT df_bucket, COUNT(*) AS n_terms,
       |    CAST(SUM(cdf) AS BIGINT) AS n_postings
       |  FROM b GROUP BY df_bucket
       |), t AS (
       |  SELECT CAST(SUM(cdf) AS BIGINT) AS tot FROM df
       |)
       |SELECT df_bucket, n_terms, n_postings,
       |  CAST(n_postings AS DOUBLE) / CAST(tot AS DOUBLE) AS postings_share
       |FROM h CROSS JOIN t ORDER BY df_bucket""".stripMargin

  val oracles: Map[String, String] = Map(
    // Hit-anchored window census + per-doc argmax; DuckDB's inclusive list
    // slice takes start..start+W−1.
    "rt_snippet" ->
      s"""WITH d AS (
         |  SELECT doc_id, list_filter(string_split_regex(lower(text), ' +'), t -> t <> '') AS ts
         |  FROM documents
         |  WHERE len(list_filter(string_split_regex(lower(text), ' +'), t -> t <> '')) >= 1
         |), h AS (
         |  SELECT doc_id, i AS pos, ts[i] AS term
         |  FROM (SELECT doc_id, ts, UNNEST(range(1, len(ts) + 1)) AS i FROM d)
         |  WHERE ts[i] IN ($termList)
         |), wnd AS (
         |  SELECT s.doc_id, s.pos AS start, COUNT(DISTINCT h.term) AS n_terms
         |  FROM h s JOIN h ON h.doc_id = s.doc_id
         |    AND h.pos >= s.pos AND h.pos < s.pos + $SnipW
         |  GROUP BY 1, 2
         |), best AS (
         |  SELECT doc_id, start, n_terms FROM wnd
         |  QUALIFY ROW_NUMBER() OVER (
         |    PARTITION BY doc_id ORDER BY n_terms DESC, start ASC) = 1
         |)
         |SELECT b.doc_id, b.start, b.n_terms,
         |  array_to_string(d.ts[b.start : b.start + ${SnipW - 1}], ' ') AS snippet
         |FROM best b JOIN d USING (doc_id) ORDER BY b.doc_id""".stripMargin,
    "rt_inverted_index" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    list_distinct(list_filter(string_split_regex(lower(text), ' +'), t -> t <> '')) AS ts
        |  FROM documents
        |), post AS (
        |  SELECT doc_id, UNNEST(ts) AS term FROM d
        |)
        |SELECT term, COUNT(*) AS df,
        |  string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
        |FROM post GROUP BY term ORDER BY term""".stripMargin,
    // Histogram twin: df recomputed from scratch, the same power-of-two
    // comparison ladder, the same single grand-total division.
    "rt_df_histogram" -> dfHistogramRebuildSql,
    // The incremental-maintenance query shares the SAME from-scratch
    // full-corpus twin ON PURPOSE: the staleness contract under test is
    // merge(stale base index, landing-batch delta) ≡ rebuild(unioned
    // corpus), so the oracle must be the rebuild, computed with no
    // knowledge of the split or the merge.
    "rt_df_incremental" -> dfHistogramRebuildSql,
    "rt_bm25" -> bm25OracleSql,
    // nDCG twin: the nested gated BM25 statement ranked by ROW_NUMBER,
    // integer-ppm discount literals, sort-free ideal DCG from the corpus
    // relevance counts against the prefix-sum literal table.
    "rt_ndcg" -> {
      val wList = s"[${NdcgWPpm.mkString(", ")}]"
      val pwList = s"[${NdcgPWPpm.mkString(", ")}]"
      def pw(m: String) = s"$pwList[CAST(least($NdcgK, $m) AS INT) + 1]"
      s"""WITH bm AS ($bm25OracleSql), r AS (
         |  SELECT n_terms, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS i FROM bm
         |), dcg AS (
         |  SELECT CAST(SUM((CASE n_terms WHEN 3 THEN 7 WHEN 2 THEN 3 ELSE 1 END)
         |    * $wList[CAST(i AS INT)]) AS BIGINT) AS dcg_q
         |  FROM r WHERE i <= $NdcgK
         |), d2 AS (
         |  SELECT doc_id, list_filter(string_split_regex(lower(text), ' +'), t -> t <> '') AS ts
         |  FROM documents
         |), nt AS (
         |  SELECT doc_id, COUNT(DISTINCT term) AS n_terms FROM (
         |    SELECT doc_id, UNNEST(ts) AS term FROM d2 WHERE len(ts) >= 1
         |  ) WHERE term IN ($termList) GROUP BY doc_id
         |), cnts AS (
         |  SELECT CAST(SUM(CASE WHEN n_terms = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
         |    CAST(SUM(CASE WHEN n_terms = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
         |    CAST(SUM(CASE WHEN n_terms = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1
         |  FROM nt
         |)
         |SELECT $NdcgK AS k, dcg_q,
         |  7 * ${pw("n3")} + 3 * (${pw("n3 + n2")} - ${pw("n3")})
         |    + (${pw("n3 + n2 + n1")} - ${pw("n3 + n2")}) AS idcg_q,
         |  CAST(dcg_q AS DOUBLE) /
         |    CAST(7 * ${pw("n3")} + 3 * (${pw("n3 + n2")} - ${pw("n3")})
         |      + (${pw("n3 + n2 + n1")} - ${pw("n3 + n2")}) AS DOUBLE) AS ndcg
         |FROM dcg CROSS JOIN cnts""".stripMargin
    },
    "rt_hybrid_rrf" ->
      s"""WITH e AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
         |), q AS (
         |  SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < ${Similarity.NQueries}
         |), dcos AS (
         |  SELECT query_id, e.vec_id AS doc_id,
         |    list_reduce([qv[i] * v[i] FOR i IN range(1, len(v)+1)], (p, s) -> p + s)
         |      / (sqrt(list_reduce([qv[i] * qv[i] FOR i IN range(1, len(qv)+1)], (p, s) -> p + s))
         |       * sqrt(list_reduce([v[i] * v[i] FOR i IN range(1, len(v)+1)], (p, s) -> p + s))) AS cos
         |  FROM q JOIN e ON e.vec_id <> query_id
         |), dense AS (
         |  SELECT query_id, doc_id,
         |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, doc_id ASC) AS rd
         |  FROM dcos QUALIFY rd <= $RrfListK
         |), toks AS (
         |  SELECT doc_id, list_filter(string_split_regex(lower(text), ' +'), t -> t <> '') AS ts
         |  FROM documents
         |), sh AS (
         |  SELECT doc_id,
         |    list_distinct([array_to_string(ts[i:i+2], ' ') FOR i IN range(1, len(ts)-1)]) AS shingles
         |  FROM toks WHERE len(ts) >= 3
         |), qsh AS (
         |  SELECT doc_id AS query_id, shingles AS qs FROM sh WHERE doc_id < ${Similarity.NQueries}
         |), qg AS (
         |  SELECT query_id, unnest(qs) AS sng FROM qsh
         |), inv AS (
         |  SELECT doc_id, unnest(shingles) AS sng FROM sh
         |), cand AS (
         |  SELECT DISTINCT query_id, doc_id FROM inv JOIN qg USING (sng) WHERE doc_id <> query_id
         |), lexs AS (
         |  SELECT c.query_id, c.doc_id,
         |    CAST(len(list_intersect(q.qs, s.shingles)) AS DOUBLE)
         |      / (len(q.qs) + len(s.shingles) - len(list_intersect(q.qs, s.shingles))) AS jac
         |  FROM cand c JOIN qsh q USING (query_id) JOIN sh s ON c.doc_id = s.doc_id
         |), lex AS (
         |  SELECT query_id, doc_id,
         |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY jac DESC, doc_id ASC) AS rl
         |  FROM lexs QUALIFY rl <= $RrfListK
         |), fused AS (
         |  SELECT COALESCE(d.query_id, l.query_id) AS query_id,
         |    COALESCE(d.doc_id, l.doc_id) AS doc_id,
         |    COALESCE(CAST(1 AS DOUBLE) / (CAST(60 AS DOUBLE) + rd), 0)
         |      + COALESCE(CAST(1 AS DOUBLE) / (CAST(60 AS DOUBLE) + rl), 0) AS rrf
         |  FROM dense d FULL JOIN lex l ON d.query_id = l.query_id AND d.doc_id = l.doc_id
         |)
         |SELECT query_id,
         |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rrf DESC, doc_id ASC) AS rnk,
         |  doc_id, rrf
         |FROM fused QUALIFY rnk <= $RrfTopK ORDER BY query_id, rnk""".stripMargin,
    // PRF twin: the rt_bm25 scoring template instantiated twice (seed and
    // expanded term relations), with the same integer promotion order.
    "rt_prf_expansion" -> {
      def bm25Sql(tag: String, termsRel: String): String =
        s"""tf$tag AS (
           |  SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf FROM (
           |    SELECT doc_id, UNNEST(ts) AS term FROM d WHERE len(ts) >= 1
           |  ) JOIN $termsRel USING (term) GROUP BY doc_id, term
           |), df$tag AS (
           |  SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf$tag GROUP BY term
           |), sc$tag AS (
           |  SELECT doc_id, COUNT(*) AS n_terms,
           |    CAST(SUM(CAST(
           |      (((n_docs - df + 0.5) / (df + 0.5)) * (tf * 2.2))
           |        / (tf + 1.2 * (0.25 + 0.75 * (dl / avgdl)))
           |    AS DECIMAL(38,18))) AS DOUBLE) AS score
           |  FROM tf$tag JOIN df$tag USING (term) CROSS JOIN st JOIN dls USING (doc_id)
           |  GROUP BY doc_id
           |)""".stripMargin
      val termValues = Bm25Terms.map(t => s"('$t')").mkString(", ")
      s"""WITH d AS (
         |  SELECT doc_id, list_filter(string_split_regex(lower(text), ' +'), t -> t <> '') AS ts
         |  FROM documents
         |), dls AS (
         |  SELECT doc_id, CAST(len(ts) AS DOUBLE) AS dl FROM d WHERE len(ts) >= 1
         |), st AS (
         |  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
         |    CAST(SUM(CAST(dl AS BIGINT)) AS DOUBLE) / COUNT(*) AS avgdl
         |  FROM dls
         |), q0(term) AS (VALUES $termValues),
         |${bm25Sql("0", "q0")}, fb AS (
         |  SELECT doc_id FROM sc0 ORDER BY score DESC, doc_id ASC LIMIT $FbDocs
         |), cdf AS (
         |  SELECT term, COUNT(*) AS cdf FROM (
         |    SELECT doc_id, UNNEST(list_distinct(ts)) AS term FROM d WHERE len(ts) >= 1
         |  ) GROUP BY term
         |), expd AS (
         |  SELECT term FROM (
         |    SELECT f.term, CAST(SUM(1) AS BIGINT) AS fb_tf FROM (
         |      SELECT doc_id, UNNEST(ts) AS term FROM d
         |    ) f JOIN fb USING (doc_id)
         |    WHERE f.term NOT IN ($termList)
         |    GROUP BY f.term
         |  ) JOIN cdf USING (term)
         |  ORDER BY fb_tf DESC, cdf ASC, term ASC LIMIT $FbTerms
         |), q1 AS (
         |  SELECT term FROM q0 UNION ALL SELECT term FROM expd
         |),
         |${bm25Sql("1", "q1")}
         |SELECT doc_id, n_terms, score FROM sc1
         |ORDER BY score DESC, doc_id ASC LIMIT $Bm25K""".stripMargin
    },
    // Same anchor formulation (DuckDB positions are 1-based, Spark's
    // posexplode 0-based — anchors shift by a per-engine constant, which
    // cancels in the per-(doc, anchor) occurrence count).
    "rt_phrase_search" -> {
      val values = PhraseTerms.zipWithIndex
        .map { case (t, i) => s"('$t', $i)" }.mkString(", ")
      s"""WITH toks AS (
         |  SELECT doc_id, list_filter(string_split_regex(lower(text), ' +'), t -> t <> '') AS ts
         |  FROM documents
         |), p AS (
         |  SELECT doc_id, i AS pos, ts[i] AS token
         |  FROM toks, UNNEST(range(1, len(ts) + 1)) AS u(i)
         |), m AS (
         |  SELECT doc_id, pos - idx AS anchor, idx
         |  FROM p JOIN (VALUES $values) AS ph(t, idx) ON token = ph.t
         |)
         |SELECT doc_id, COUNT(*) AS n_occurrences FROM (
         |  SELECT doc_id, anchor FROM m
         |  GROUP BY doc_id, anchor HAVING COUNT(DISTINCT idx) = ${PhraseTerms.length}
         |)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin
    }
  )
}
