package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text analysis + multimodal-metadata operators over `documents`.
  * All scalar logic is built-in expressions (codegen'd, oracle-matched);
  * the heavy binary decode path lives in [[graft.operators.Multimodal]]
  * with a deterministic stub decoder.
  */
object TextQueries {

  type Q = (SparkSession, String) => DataFrame

  private def toks: Column = split(col("text"), " ")

  private val Stopwords = Seq("the", "a", "of", "and", "to", "in")

  /** substring-occurrence count via length-difference (identical semantics
    * in Spark and DuckDB's replace()). */
  private def occurrences(text: Column, needle: String): Column =
    ((length(text) - length(replace(text, lit(needle), lit("")))) / needle.length).cast("int")

  /** t01: language-ID by marker-n-gram voting. Real language ID uses the
    * same shape (per-class n-gram scores → argmax); markers here are picked
    * for the synthetic corpus. Fixed CASE priority breaks score ties
    * deterministically.
    */
  val t01_lang_id: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
      .withColumn("s_en", occurrences(col("text"), " the "))
      .withColumn("s_q", occurrences(col("text"), " query "))
      .withColumn("s_j", occurrences(col("text"), " join "))
    val pred = when(col("s_en") >= col("s_q") && col("s_en") >= col("s_j"), "en")
      .when(col("s_q") >= col("s_j"), "qry")
      .otherwise("jon")
    d.withColumn("predicted", pred)
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("predicted"))
  }

  /** THE t02 quality pipeline — one definition (t08 bins exactly this
    * score; a second copy would bin a silently different score after any
    * weight/rounding tweak). Explicit half-up quantization instead of
    * round(): the score's fixed-decimal inputs land exactly on .00005
    * boundaries, where Spark rounds half-up but DuckDB half-even —
    * floor(x*1e4 + 0.5) forces the same rule in both engines. */
  private def qualityScored(df: DataFrame): DataFrame =
    df
      .withColumn("n_tokens", size(toks))
      .withColumn("n_stop", size(filter(toks, t => t.isin(Stopwords: _*))))
      .withColumn("stop_ratio", floor(col("n_stop") / col("n_tokens") * 10000 + 0.5) / 10000)
      .withColumn("mean_tok_len", floor(
        (length(col("text")) - col("n_tokens") + 1) / col("n_tokens") * 10000 + 0.5) / 10000)
      .withColumn("quality", floor((
        least(col("n_tokens") / lit(100.0), lit(1.0)) * 0.5 +
          col("stop_ratio") * 0.3 +
          least(col("mean_tok_len") / lit(10.0), lit(1.0)) * 0.2) * 10000 + 0.5) / 10000)

  /** t02: quality scoring — length / stopword-ratio / mean-token-length
    * heuristics combined into one score per doc. */
  val t02_quality_score: Q = (s, dir) => {
    qualityScored(Tables.documents(s, dir))
      .select(col("doc_id"), col("n_tokens"), col("stop_ratio"),
        col("mean_tok_len"), col("quality"))
      .orderBy(col("doc_id"))
  }

  /** t03: token counting per source — corpus-level token statistics
    * (explode → two-level agg; the distinct count is the expensive path
    * and Catalyst plans it as expand + two-phase agg).
    */
  val t03_token_count: Q = (s, dir) => {
    val tok = Tables.documents(s, dir)
      .select(col("source"), col("doc_id"), explode(toks).as("tok"))
    tok.groupBy(col("source"))
      .agg(count(lit(1)).as("n_tokens"),
        countDistinct(col("tok")).as("n_distinct"),
        countDistinct(col("doc_id")).as("n_docs"))
      // floor(x*1e4+0.5), not round(): Spark's round() is HALF_UP on the
      // shortest-decimal STRING, DuckDB rounds the binary value — they
      // split on values within an ulp of a .00005 boundary (the t02 rule)
      .withColumn("tokens_per_doc",
        floor(col("n_tokens") / col("n_docs") * 10000 + 0.5) / 10000)
      .orderBy(col("source"))
  }

  /** t04: document fingerprint — md5 over whitespace-normalized lowercase
    * text (the reference's "content identity" idea, S11's validated string
    * handling). Output keyed by fingerprint for downstream dedup.
    *
    * The whitespace class is spelled EXPLICITLY (here and in the oracle +
    * x03's tokenizer): Java-regex `\s` includes vertical tab (U+000B),
    * RE2's does not — a document containing one would fingerprint
    * differently per engine under the shorthand.
    */
  val t04_fingerprint: Q = (s, dir) => {
    Tables.documents(s, dir)
      .withColumn("fp", md5(trim(regexp_replace(lower(col("text")), "[ \\t\\n\\x0B\\f\\r]+", " "))))
      .select(col("doc_id"), col("fp"))
      .orderBy(col("doc_id"))
  }

  /** m01: multimodal-metadata path — documents' text treated as an opaque
    * binary payload (the image/audio pattern: binary column + typed
    * metadata + content hash). The full decode/feature pipeline with a
    * stub decoder is in [[Multimodal]]; this query verifies the
    * metadata/checksum plumbing against the oracle.
    */
  val m01_media_meta: Q = (s, dir) => {
    Tables.documents(s, dir)
      .withColumn("payload", col("text").cast("binary"))
      .withColumn("n_bytes", length(col("payload")))
      .withColumn("checksum", md5(col("payload")))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("n_bytes")).as("total_bytes"),
        min(col("checksum")).as("min_checksum"))
      .orderBy(col("source"))
  }

  /** t05: BPE-ish regex tokenization — subword-style token classes
    * (letter runs, digit runs, single punctuation) via regexp extraction,
    * the standard pre-tokenizer shape for LLM token accounting. Identical
    * regex semantics in Spark and DuckDB (both RE2-ish for this class).
    */
  val t05_regex_tokens: Q = (s, dir) => {
    Tables.documents(s, dir)
      .withColumn("toks", expr("regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]', 0)"))
      .select(col("doc_id"), size(col("toks")).as("n_subword"),
        size(filter(col("toks"), t => t.rlike("^[0-9]+$"))).as("n_numeric"),
        size(filter(col("toks"), t => t.rlike("^[^A-Za-z0-9]$"))).as("n_punct"))
      .orderBy(col("doc_id"))
  }

  /** t06: rolling-hash document fingerprint — min of the character
    * 8-gram md5s (winnowing's keep-the-minimum idea collapsed to one
    * window). Content-defined: stable under doc reordering, shifts only
    * when the text itself changes.
    *
    * Computed by the native [[graft.functions.MinGramMd5Expr]] (r20):
    * the HOF form (`array_min(transform(sequence(...), i ->
    * md5(substring(text, i, 8))))`) was CodegenFallback and allocated a
    * substring + digest + 32-char hex string per gram, then the whole
    * L-string array per row — 3.7 s solo at sf0.1 under the noop sink
    * (invisible to count(), which pruned the column). The expression is
    * value-identical by construction (see its scaladoc; pinned by
    * MinGramMd5Spec against the HOF form), so the oracle is unchanged.
    */
  val t06_rolling_fingerprint: Q = (s, dir) => {
    graft.functions.TextFunctions.register(s)
    Tables.documents(s, dir)
      .select(col("doc_id"),
        call_function("graft_min_gram_md5", col("text"), lit(8)).as("fp"))
      .orderBy(col("doc_id"))
  }

  /** t08: quality-decile binning — exact ntile(10) semantics over the t02
    * quality score with (quality, doc_id) tie-break, then per-decile
    * stats. The curation use: pick a score threshold by inspecting decile
    * boundaries before filtering a corpus.
    *
    * Scale design — NO global window. A literal `ntile(10) OVER (ORDER BY
    * …)` moves the whole corpus to one partition (Spark's own WindowExec
    * warning). Instead the global rank is assembled distributively:
    *   1. bucket rows by the quality value itself (quality is already
    *      quantized to 4 decimals, so ≤ ~10 001 buckets; bucketing by a
    *      monotone function of the sort key means bucket order = global
    *      order). Per-bucket `row_number` over (quality, doc_id) is an
    *      ordinary hash-partitioned window — one key-uniform exchange.
    *   2. bucket offsets come from a bucket-count aggregate (≤ 10 001
    *      rows at ANY corpus size — the only unpartitioned window runs
    *      over that bounded table) and broadcast-join back.
    *   3. global rank = bucket offset + local row_number; decile follows
    *      ntile's exact remainder rule: the first n%10 buckets take
    *      ceil(n/10) rows, the rest floor(n/10).
    * A degenerate constant-quality corpus would hot-spot one bucket; that
    * is the usual skewed-key situation (salt the bucket sub-ordered by
    * doc_id ranges), not a flaw of the rank assembly.
    */
  val t08_quality_bins: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val scored = qualityScored(Tables.documents(s, dir))
      // the bucket key: quality is already a 4-decimal grid point, so the
      // integer grid index is an exact, monotone bucketing of the sort key.
      // NULL quality (a null-text doc) maps to bucket -1 — it must stay a
      // JOINABLE key (a null qb would silently drop the row from the
      // offset equi-joins), and -1 sorts before every real bucket, which
      // is exactly Spark's nulls-first ORDER BY position the old global
      // ntile gave such rows
      .withColumn("qb", coalesce(
        floor(col("quality") * 10000 + 0.5).cast("long"), lit(-1L)))
    val local = scored.withColumn("rn",
      row_number().over(Window.partitionBy(col("qb"))
        .orderBy(col("quality"), col("doc_id"))))
    // bucket sizes → cumulative offsets via a TWO-LEVEL prefix sum, so no
    // window anywhere is unpartitioned: within a coarse group of 128
    // buckets the prefix is a partitioned window; across coarse groups
    // (≤ 80 rows total) the offset is a self-join aggregate. Every step
    // runs over the bounded quality grid (≤ ~10 001 rows), never the
    // corpus. localCheckpoint: cnt feeds three subtrees (local prefix,
    // coarse totals, grand total).
    val cnt = scored.groupBy(col("qb")).agg(count(lit(1)).as("bn"))
      .withColumn("cg", expr("qb div 128")).localCheckpoint()
    val localOff = cnt.withColumn("loff", coalesce(sum(col("bn")).over(
      Window.partitionBy(col("cg")).orderBy(col("qb"))
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val cgTot = cnt.groupBy(col("cg")).agg(sum(col("bn")).as("ctot"))
    val cgOff = cgTot.alias("a")
      .join(cgTot.alias("b"), col("b.cg") < col("a.cg"), "left")
      .groupBy(col("a.cg")).agg(coalesce(sum(col("b.ctot")), lit(0L)).as("coff"))
    val nTotal = cnt.agg(sum(col("bn")).as("n_total"))
    val offsets = localOff.join(cgOff, "cg").crossJoin(nTotal)
      .select(col("qb"), (col("coff") + col("loff")).as("off"), col("n_total"))
    // ntile(10) exact semantics from the global rank: with n = n_total,
    // base = n/10 and rem = n%10, buckets 1..rem hold base+1 rows
    val base = expr("n_total div 10")
    val rem = col("n_total") % 10
    val rank = col("off") + col("rn")
    local.join(broadcast(offsets), "qb")
      .withColumn("decile",
        when(rank <= rem * (base + 1), ceil(rank / (base + 1)))
          .otherwise(rem + ceil((rank - rem * (base + 1)) / greatest(base, lit(1L)))))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("quality")).as("min_q"), max(col("quality")).as("max_q"),
        sum(col("n_tokens")).as("sum_tokens"))
      .orderBy(col("decile"))
  }

  /** t09: unigram language-model scoring — per-doc mean token log-prob
    * under the corpus's own unigram distribution (the CCNet-style
    * perplexity quality signal: gibberish and boilerplate score far from
    * the corpus mode). Plan: one token-count aggregate (vocab-sized),
    * totals as a broadcast 1-row cross join, then a vocab-sized join back
    * onto the exploded corpus and one per-doc aggregate.
    *
    * Determinism: per-token log-probs are QUANTIZED TO INTEGERS (×1e6,
    * half-up) before the per-doc sum — double addition is
    * partial-agg-order dependent, so summing raw `ln` values would make
    * the 4-decimal output flip at rounding boundaries between runs and
    * engines; integer sums are exact and associative (same technique as
    * s03's Lloyd means).
    */
  val t09_unigram_logprob: Q = (s, dir) => {
    val tok = Tables.documents(s, dir)
      .select(col("doc_id"), explode(toks).as("tok"))
    // vocab-sized, two consumers (total + probe join) — cut it once
    // (the t15 shared-subtree discipline)
    val cnt = tok.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val total = cnt.agg(sum(col("cnt")).cast("double").as("n_total"))
    tok.join(cnt, "tok").crossJoin(total)
      .select(col("doc_id"),
        floor(log(col("cnt") / col("n_total")) * 1e6 + 0.5).cast("long").as("lp_q"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        (floor(sum(col("lp_q")).cast("double") / count(lit(1)) / 1e6 * 1e4 + 0.5) / 1e4)
          .as("avg_logprob"))
      .orderBy(col("doc_id"))
  }

  /** t10: per-document keyword extraction — top 3 terms by TF-IDF weight,
    * ranked through the CUSTOM OPERATOR [[graft.plans.TopKPerKey]] over
    * the shared c05 pipeline. Exactly the operator's sweet spot: keys
    * (documents) carry ~vocabulary-sized value lists, and the map-side
    * partial prunes each to 3 rows before the exchange — the shuffle
    * moves 3 rows per doc per partition, not the whole (doc, term) table.
    * Ties on the rounded weight break by term (total order, oracle-safe).
    */
  val t10_keywords: Q = (s, dir) =>
    graft.plans.TopKPerKey.perKey(CurationQueries.tfidf(s, dir),
        Seq("doc_id"), Seq("tfidf" -> false, "tok" -> true), k = 3)
      .orderBy(col("doc_id"), col("tfidf").desc, col("tok"))

  /** t11: per-document NOVELTY scoring — what fraction of a doc's
    * distinct 3-shingles already appeared in an earlier (lower-id) doc.
    * The dedup-adjacent curation signal: exact-dup detection (d01) and
    * near-dup pairing (d02/d04) DECIDE keep/drop, while this scores the
    * recycled MASS per document so a sampler can downweight mostly-
    * recycled docs without dropping them (the soft alternative to d11's
    * hard pair listing; "earlier doc wins" matches d01's min-id keeper
    * convention).
    *
    * Plan: the d02/d04 shingle table → min-doc_id owner per shingle
    * (shingle-keyed partial+final agg) → join back on shingle →
    * doc-keyed count. All shuffles key-uniform on shingle/doc ids, pair
    * space never materializes — linear at corpus scale where d11's
    * exact pair listing is the quadratic-tail risk.
    */
  val t11_novelty: Q = (s, dir) => {
    val sh = DedupQueries.shingles(Tables.documents(s, dir))
    // distinct-shingle-sized, probed by the corpus join below — cut it so
    // the 3-gram explode isn't re-run inside the owner build per side
    val owner = sh.groupBy(col("s")).agg(min(col("doc_id")).as("owner"))
      .localCheckpoint()
    sh.join(owner, Seq("s"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("owner") < col("doc_id"), 1L).otherwise(0L)).as("n_recycled"))
      .withColumn("recycled_ratio",
        floor(col("n_recycled") / col("n_shingles") * 1e4 + 0.5) / 1e4)
      .orderBy(col("doc_id"))
  }

  /** t12: per-language lexical statistics — vocabulary size, hapax ratio
    * (fraction of types occurring exactly once; the classic OOV-pressure
    * signal for tokenizer sizing) and the Zipf slope: `regr_slope` of
    * ln(freq) on ln(rank) over the top-50 types, which a natural corpus
    * keeps near −1 and templated/synthetic text visibly flattens — a
    * corpus-health check a training pipeline runs per shard.
    *
    * Plan: one key-uniform (lang, token) count agg, a per-language rank
    * window over the TYPE table (vocab-bounded, never corpus-bounded —
    * the explode feeds straight into partial aggregation so corpus rows
    * are combined map-side), then a per-language fold. The slope uses the
    * two-argument `regr_slope` built-in (codegen'd partial+final) with
    * the rank-50 cutoff expressed as NULL-out, matching SQL FILTER
    * semantics. Both ratio outputs go through the repo's floor-based
    * 4-decimal rounding so last-ulp noise can't flip the oracle hash.
    */
  val t12_lexical_zipf: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val tf = Tables.documents(s, dir)
      .select(col("lang"), explode(toks).as("tok"))
      .groupBy(col("lang"), col("tok"))
      .agg(count(lit(1)).as("f"))
    val w = Window.partitionBy(col("lang")).orderBy(col("f").desc, col("tok"))
    // slope via the q46 moment identities over LOG VALUES QUANTIZED TO
    // BIGINT (the t09 convention): regr_slope's internal double sums
    // accumulate in engine/partitioning order, and the 4-decimal floor
    // cannot absorb a last-ulp split landing on a 1e-4 grid boundary —
    // integer sums make the slope the same exact rational in both
    // engines, divided once at the end
    tf.withColumn("rk", row_number().over(w))
      .withColumn("lf", when(col("rk") <= 50,
        floor(log(col("f")) * 1e6 + 0.5).cast("long")))
      .withColumn("lr", when(col("rk") <= 50,
        floor(log(col("rk")) * 1e6 + 0.5).cast("long")))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("vocab"),
        (floor(sum(when(col("f") === 1, 1L).otherwise(0L)) * lit(1.0) / count(lit(1)) * 1e4 + 0.5) / 1e4)
          .as("hapax_ratio"),
        count(col("lr")).as("k"),
        sum(col("lr")).as("sx"), sum(col("lf")).as("sy"),
        sum(col("lr") * col("lr")).as("sxx"),
        sum(col("lr") * col("lf")).as("sxy"))
      .select(col("lang"), col("vocab"), col("hapax_ratio"),
        when(col("k") * col("sxx") - col("sx") * col("sx") === 0L, lit(null))
          .otherwise(floor(
            (col("k") * col("sxy") - col("sx") * col("sy")).cast("double") /
              (col("k") * col("sxx") - col("sx") * col("sx")).cast("double")
              * 1e4 + 0.5) / 1e4)
          .as("zipf_slope"))
      .orderBy(col("lang"))
  }

  /** Default query-term set for [[t13_bm25]] — three content terms of the
    * synthetic corpus with visibly different document frequencies. */
  val DefaultBm25Terms: Seq[String] = Seq("join", "stream", "vector")

  /** t13: BM25 retrieval — score every document against a query-term set
    * with the classic Okapi weighting (k1, b caller-sized; defaults 1.2 /
    * 0.75) and keep the top-k per term. The retrieval primitive a
    * contamination scan or RAG-corpus audit runs per probe query.
    *
    * Plan, scale-first: the token explode is filtered to the query terms
    * BEFORE any shuffle, so shuffle volume is the postings of |terms|
    * terms, not the corpus token stream; corpus scalars (N, avgdl) are a
    * 1-row aggregate broadcast by crossJoin; document frequency is a
    * |terms|-row aggregate joined by broadcast; the final top-k window
    * partitions by term (|terms| partitions, each holding only that
    * term's posting list — bounded by df, never by corpus size). Scores
    * floor-round at 6 decimals BEFORE ranking so the (score desc, doc_id)
    * order is identical across engines regardless of last-ulp ln/div
    * noise.
    */
  def bm25(s: SparkSession, dir: String,
      terms: Seq[String] = DefaultBm25Terms,
      k1: Double = 1.2, b: Double = 0.75, topK: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), toks.as("w"))
      .withColumn("dl", size(col("w")))
    val stats = d.agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
    val tf = d
      .select(col("doc_id"), col("dl"),
        explode(filter(col("w"), t => t.isin(terms: _*))).as("term"))
      .groupBy(col("term"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val scored = tf
      .join(broadcast(dfreq), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("score", floor(
        log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0) *
          (col("tf") * (k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))) *
          1e6 + 0.5) / 1e6)
    val w = Window.partitionBy(col("term"))
      .orderBy(col("score").desc, col("doc_id"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= topK)
      .select(col("term"), col("rk"), col("doc_id"), col("tf"), col("score"))
      .orderBy(col("term"), col("rk"))
  }

  val t13_bm25: Q = (s, dir) => bm25(s, dir)

  /** t14: RARITY SCORING — the LM-perplexity-style quality signal in
    * EXACT integer arithmetic: each token instance scores `T div C(w)`
    * (corpus token total over the token's corpus count — the integral
    * inverse-probability, the log-free analog of surprisal), a document
    * scores the sum, and the listing is the top-20 rarest-vocabulary
    * documents — the OOV/noise shortlist a curation pipeline reviews
    * first. Why not log-prob: `log`/`ln` are libm calls whose last ulp
    * differs between engines, which would break the hash gate; integral
    * floor division ranks documents identically for audit purposes and
    * is partitioning-invariant by construction.
    *
    * Plan shape: one token explode feeds both the vocab count (token-
    * keyed partial+final agg) and the instance join (token-keyed — the
    * SAME key, so the join reuses the shuffle partitioning); T is a
    * broadcast 1-row aggregate; per-doc agg then TakeOrdered(20). At
    * 100 TB the vocab side is Heaps'-law sublinear and every shuffle is
    * key-uniform.
    */
  val t14_rarity_score: Q = (s, dir) => {
    val tk = Tables.documents(s, dir)
      .select(col("doc_id"), explode(toks).as("tok"))
    val vocab = tk.groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .localCheckpoint() // vocab-sized, two consumers (t15's discipline)
    val tot = vocab.agg(sum(col("c")).as("t"))
    tk.join(vocab, Seq("tok"))
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), expr("t div c").as("r"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"), sum(col("r")).as("rarity"))
      .withColumn("mean_rarity", expr("rarity div n_tok"))
      .orderBy(col("rarity").desc, col("doc_id"))
      .limit(20)
  }

  /** t15: RANKED COLLOCATIONS (word2phrase-style) — the top-30 bigrams
    * by corpus-wide association lift: the RANKED companion to
    * [[CurationQueries.c08_pmi_bigrams]], which SCORES every qualifying
    * bigram with rounded-double PMI but deliberately orders by (x, y)
    * because ranking on a rounded libm log is a cross-engine tie hazard.
    * Lift = observed bigram count over its independence expectation,
    * `c(ab)·U / (c(a)·c(b))` with U the corpus token total — a constant
    * multiple (U/B, B = total bigrams) of the argument inside c08's
    * log, so ORDERING BY LIFT IS EXACTLY ORDERING BY PMI, computed
    * without libm: scaled to 1e4 fixed-point and floor-divided in
    * BIGINT on both engines, the hash gate holds bit-for-bit (the t14
    * discipline) and the top-k that c08 can't safely produce becomes
    * gate-checkable. Same `c(ab) ≥ 5` support floor. Deterministic
    * total order: (lift desc, bigram asc) — unique, so the LIMIT is
    * stable.
    *
    * Plan shape: one token explode → token-keyed unigram agg (vocab is
    * Heaps'-law sublinear); one bigram explode → bigram-keyed agg with
    * the support floor applied BEFORE the joins (the candidate set
    * collapses to the frequent-bigram vocabulary); two token-keyed
    * broadcast-or-shuffle joins against the unigram counts; U is the
    * 1-row-aggregate broadcast. At 100 TB every shuffle is
    * vocabulary-keyed, never corpus-keyed — exactly how word2phrase
    * scales. BIGINT headroom: c(ab)·U·1e4 needs c(ab)·U < 9.2e14, ample
    * below ~1e9 token corpora per run; past that the lift moves to
    * DECIMAL(38) with the same floor-divide discipline.
    */
  val t15_collocations: Q = (s, dir) => collocations(s, dir)

  /** t15's body with the support floor and listing size as knobs (the
    * d12/d13/t13 parameterization discipline; the gate entry runs
    * minCount=5 / topK=30, the spec drives hand-computable corpora). */
  def collocations(s: SparkSession, dir: String,
                   minCount: Long = 5L, topK: Int = 30): DataFrame = {
    val tk = Tables.documents(s, dir)
      .select(explode(toks).as("tok"))
    // localCheckpoint: uni feeds THREE consumers (c_a join, c_b join, the
    // U total) — without the cut each one re-runs the corpus-wide token
    // explode + count (the d08 shared-subtree discipline; the plan
    // showed three full scan+agg subtrees before the cut)
    val uni = tk.groupBy(col("tok")).agg(count(lit(1)).as("c")).localCheckpoint()
    val tot = uni.agg(sum(col("c")).as("u"))
    val bg = Tables.documents(s, dir)
      .filter(size(toks) >= 2) // sequence(1, 0) would DESCEND, not empty
      // project the token array ONCE: filter and project are separate
      // operators, so subexpression elimination does not share split()
      // across them — the inline form tokenized each row up to 4 times
      .select(toks.as("tk"))
      .select(explode(expr(
        "transform(sequence(1, size(tk) - 1)," +
          " i -> concat_ws(' ', element_at(tk, i), element_at(tk, i+1)))")).as("bg"))
      .groupBy(col("bg")).agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minCount)
    bg
      .join(uni.select(col("tok").as("ta"), col("c").as("c_a")),
        expr("element_at(split(bg,' '), 1) = ta"))
      .join(uni.select(col("tok").as("tb"), col("c").as("c_b")),
        expr("element_at(split(bg,' '), 2) = tb"))
      .crossJoin(broadcast(tot))
      .select(col("bg"), col("c_ab"), col("c_a"), col("c_b"),
        expr("(c_ab * u * 10000) div (c_a * c_b)").as("lift_e4"))
      .orderBy(col("lift_e4").desc, col("bg"))
      .limit(topK)
  }

  /** t16: PHRASE SEARCH over POSITIONAL POSTINGS — token-adjacency
    * semantics ("hash" immediately followed by "value"), the query shape
    * BM25 (t13) can't express because bag-of-words postings drop order.
    * The engine's plan is the inverted-index plan: tokenize with
    * positions (posexplode), keep ONLY the two query terms' posting
    * lists, and join them on (doc, pos+1) — the classic positional
    * posting-list intersection. Candidate volume is |postings(w₁)| ×
    * selectivity, never |corpus|²: the term filters run before the join,
    * so the shuffle carries two term-sized lists, not the tokenized
    * corpus. At 100 TB the postings frame is what a deployment
    * MATERIALIZES once (term-bucketed, doc-sorted — the t13 layout plus
    * a position column); each phrase query then reads two posting
    * buckets and the join is co-located. Longer phrases chain the same
    * join once per additional term. Oracle: the identical intersection
    * in SQL over unnest-with-subscripts — engine-neutral adjacency.
    */
  val t16_phrase_search: Q = (s, dir) => {
    // ONE corpus tokenization: both terms' postings come out of a single
    // filtered explode, checkpointed (term-posting-sized — tiny), so the
    // self-join's two sides probe the materialized postings instead of
    // re-exploding the corpus each
    val posts = Tables.documents(s, dir)
      .select(col("doc_id"), posexplode(toks).as(Seq("pos", "w")))
      .filter(col("w").isin("hash", "value"))
      .localCheckpoint()
    val p1 = posts.filter(col("w") === "hash").select(col("doc_id"), col("pos"))
    val p2 = posts.filter(col("w") === "value")
      .select(col("doc_id").as("doc_id2"), col("pos").as("pos2"))
    p1.join(p2,
        col("doc_id") === col("doc_id2") && col("pos2") === col("pos") + 1)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_occ"))
      .orderBy(col("doc_id"))
  }

  /** t17: ROBUST OUTLIER DETECTION per group — median/MAD, the
    * quality-filter statistic that (unlike mean/stddev) a handful of
    * pathological documents can't drag toward themselves. All selection
    * is EXACT lower-median semantics (the value at rank ⌊(n+1)/2⌋ in
    * sorted order), so both engines pick the identical BIGINT and the
    * gate never sees an interpolated float: med = lower-median of
    * n_chars per lang, dv = |n_chars − med|, mad = lower-median of dv,
    * outlier ⇔ dv > 2·mad. Emits the flagged documents themselves —
    * what a curation pass quarantines.
    *
    * Scale honesty: rank selection here is a per-group sort window, and
    * language groups are few and giant — the known-skew regime. The
    * 100 TB form keeps the SAME outlier rule but finds the two medians
    * by iterative range-count selection (or a GK sketch, x02, when ±ε
    * rank error is acceptable): count-below is a partial agg, so each
    * refinement is one map-side-combined pass, no global sort. The
    * flagging pass (dv > 2·mad against broadcast per-lang medians) is
    * embarrassingly parallel either way.
    */
  val t17_outlier_mad: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val d = Tables.documents(s, dir)
      .select(col("lang"), col("doc_id"), col("n_chars"))
    def lowerMedian(df: DataFrame, v: String, out: String): DataFrame = {
      val w = Window.partitionBy(col("lang")).orderBy(col(v), col("doc_id"))
      df.withColumn("rn", row_number().over(w))
        .withColumn("cnt", count(lit(1)).over(Window.partitionBy(col("lang"))))
        .filter(col("rn") === expr("(cnt + 1) div 2"))
        .select(col("lang"), col(v).as(out))
    }
    val med = lowerMedian(d, "n_chars", "med")
    val dev = d.join(broadcast(med), Seq("lang"))
      .withColumn("dv", abs(col("n_chars") - col("med")))
    val mad = lowerMedian(dev.select(col("lang"), col("doc_id"), col("dv")),
      "dv", "mad")
    dev.join(broadcast(mad), Seq("lang"))
      .filter(col("dv") > col("mad") * 2)
      .select(col("lang"), col("doc_id"), col("n_chars"), col("dv"))
      .orderBy(col("lang"), col("doc_id"))
  }

  /** t17b: t17's outlier rule with the medians found the way a 100 TB
    * deployment finds them — t17's scaladoc prescribes rank selection
    * without a per-row sort window; this entry IS that plan, gated on
    * the same oracle. Both lower-medians come from a VALUE HISTOGRAM:
    * group to (lang, value, count) — a partial+final agg whose shuffle
    * carries distinct values, not rows — then a running-count window
    * over the per-language distinct values picks the smallest value
    * whose cumulative count reaches rank ⌊(n+1)/2⌋. The window sorts
    * |distinct values| rows per language (the metric's bounded domain),
    * never the corpus; the flagging pass joins broadcast per-language
    * medians. Same result as t17 row-for-row — sort-window and
    * histogram selection are the same statistic, proven by the shared
    * oracle, which is the point of shipping both. */
  val t17b_outlier_mad_hist: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val d = Tables.documents(s, dir)
      .select(col("lang"), col("doc_id"), col("n_chars"))
    // lower-median of `v` per lang via histogram + running count:
    // smallest value whose cumulative count >= floor((n+1)/2)
    def lowerMedianHist(df: DataFrame, v: String, out: String): DataFrame = {
      val hist = df.groupBy(col("lang"), col(v).as("val"))
        .agg(count(lit(1)).as("c"))
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("val"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      hist
        .withColumn("cum", sum(col("c")).over(w))
        .withColumn("n", sum(col("c")).over(Window.partitionBy(col("lang"))))
        .filter(col("cum") >= expr("(n + 1) div 2") &&
          col("cum") - col("c") < expr("(n + 1) div 2"))
        .select(col("lang"), col("val").as(out))
    }
    val med = lowerMedianHist(d, "n_chars", "med")
    val dev = d.join(broadcast(med), Seq("lang"))
      .withColumn("dv", abs(col("n_chars") - col("med")))
    val mad = lowerMedianHist(dev.select(col("lang"), col("dv")), "dv", "mad")
    dev.join(broadcast(mad), Seq("lang"))
      .filter(col("dv") > col("mad") * 2)
      .select(col("lang"), col("doc_id"), col("n_chars"), col("dv"))
      .orderBy(col("lang"), col("doc_id"))
  }

  val all: Map[String, Q] = Map(
    "t16_phrase_search" -> t16_phrase_search,
    "t17_outlier_mad" -> t17_outlier_mad,
    "t17b_outlier_mad_hist" -> t17b_outlier_mad_hist,
    "t13_bm25" -> t13_bm25,
    "t14_rarity_score" -> t14_rarity_score,
    "t15_collocations" -> t15_collocations,
    "t12_lexical_zipf" -> t12_lexical_zipf,
    "t11_novelty" -> t11_novelty,
    "t10_keywords" -> t10_keywords,
    "t05_regex_tokens" -> t05_regex_tokens,
    "t08_quality_bins" -> t08_quality_bins,
    "t09_unigram_logprob" -> t09_unigram_logprob,
    "t06_rolling_fingerprint" -> t06_rolling_fingerprint,
    "t01_lang_id" -> t01_lang_id,
    "t02_quality_score" -> t02_quality_score,
    "t03_token_count" -> t03_token_count,
    "t04_fingerprint" -> t04_fingerprint,
    "m01_media_meta" -> m01_media_meta,
  )
}
