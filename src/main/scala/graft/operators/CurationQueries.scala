package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dataset-curation operators — the pieces a large-scale training-data
  * pipeline runs between raw corpus and training shards: PII redaction,
  * deterministic sampling/splitting, context-window chunking, sequence
  * packing, TF-IDF weighting. All are narrow or single-shuffle plans over
  * `documents`, each with a DuckDB oracle twin.
  *
  * Determinism conventions (shared with the dedup/text operators):
  *  - sampling/splitting keys on an md5 HEX-PREFIX STRING compare, not a
  *    numeric hash — both engines produce identical md5 hex, and string
  *    comparison sidesteps engine-specific hash functions entirely;
  *  - float outputs go through the explicit half-up guard
  *    `floor(x*1e4 + 0.5)/1e4` on BOTH sides (Spark rounds half-up, DuckDB
  *    half-even — they diverge exactly at .00005 boundaries).
  */
object CurationQueries {
  type Q = (SparkSession, String) => DataFrame

  /** t07: PII-style regex redaction (scrubbing pass). The pattern is a
    * stand-in for email/phone patterns — same plan shape: one narrow
    * projection, regexp evaluated once per row inside codegen, no shuffle.
    */
  val t07_pii_redaction: Q = (s, dir) => {
    val pat = "\\b(customer|supplier|key)\\b"
    Tables.documents(s, dir)
      .select(col("doc_id"),
        regexp_replace(col("text"), pat, "<REDACTED>").as("redacted"),
        regexp_count(col("text"), lit(pat)).as("n_hits"))
      .orderBy(col("doc_id"))
  }

  /** c01: deterministic stratified-style sample — keep a doc iff the hex
    * prefix of md5(doc_id) falls under the threshold (~16% expected). Rank-
    * stable under any partitioning and any engine; at 100 TB this is a
    * pure narrow filter, no shuffle, no RNG state to coordinate. */
  val c01_sampled_docs: Q = (s, dir) => {
    Tables.documents(s, dir)
      .filter(substring(md5(col("doc_id").cast("string")), 1, 2) <= "28")
      .select(col("doc_id"), col("source"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** c02: group-stable train/val/test split (~80/10/10) by md5 prefix —
    * a document lands in the same split forever, regardless of corpus
    * growth or partitioning, the property that prevents test-set leakage
    * across pipeline re-runs. */
  /** The md5 group-stable split — ONE definition of the thresholds
    * (first 2 hex of md5(doc_id): ≤ cb → train (~80%), ≤ e5 → val
    * (~10%), else test), shared by c02, c06, and c17 so the splits they
    * claim to build on each other can never silently diverge. The SQL
    * oracle twins carry the same literals; a ratio change edits this
    * and the oracle strings together. */
  private def splitAssign: Column = {
    val h = substring(md5(col("doc_id").cast("string")), 1, 2)
    when(h <= "cb", "train").when(h <= "e5", "val").otherwise("test")
  }

  /** The sequential-Poisson priority key — ONE definition of the
    * determinism-critical expression (12-hex md5 prefix → uniform long,
    * +1 so zero never divides, / n_chars as the weight), shared by c15
    * and c16; bit-identical in DuckDB by construction.
    *
    * greatest(n_chars, 1): an EMPTY document (n_chars = 0) would
    * otherwise split the engines — Spark 4's default ANSI mode throws
    * DIVIDE_BY_ZERO while DuckDB's IEEE division yields +inf (ranked
    * last) — crash on one side, silent divergence on the other. Clamping
    * to 1 on BOTH sides pins one semantics: an empty doc gets the
    * largest finite key its hash allows, i.e. effectively sampled last,
    * matching the weight's intent. */
  private def poissonKey: Column = {
    val u = conv(substring(md5(col("doc_id").cast("string")), 1, 12), 16, 10)
      .cast("long")
    (u + 1).cast("double") / greatest(col("n_chars"), lit(1))
  }

  val c02_train_test_split: Q = (s, dir) => {
    Tables.documents(s, dir)
      .withColumn("split", splitAssign)
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("split"))
  }

  /** c03: context-window chunking — fixed 100-char windows per document
    * (the pre-tokenization shard step). Narrow explode; output cardinality
    * is sum(ceil(len/100)), no shuffle until a downstream consumer. */
  val c03_context_chunks: Q = (s, dir) => {
    Tables.documents(s, dir)
      .filter(length(col("text")) > 0)
      .select(col("doc_id"),
        explode(sequence(lit(0L),
          ceil(length(col("text")) / 100.0).cast("long") - 1)).as("chunk_idx"),
        col("text"))
      .select(col("doc_id"), col("chunk_idx"),
        substring(col("text"), (col("chunk_idx") * 100 + 1).cast("int"), lit(100)).as("chunk"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  /** c04: sequence packing — assign docs (in stable doc_id order per
    * source) to training-batch bins by running token budget. The running
    * sum is one window per source partition; bin assignment is pure
    * arithmetic on it, so packing parallelizes per source at 100 TB
    * (sources are the natural shard key; a skewed source would be salted
    * upstream). */
  val c04_seq_packing: Q = (s, dir) => {
    val budget = 500
    val toks = size(split(col("text"), " "))
    val before = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.documents(s, dir)
      .withColumn("toks", toks)
      .withColumn("bin", floor(coalesce(sum(col("toks")).over(before), lit(0L)) / budget))
      .groupBy(col("source"), col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens"))
      .orderBy(col("source"), col("bin"))
  }

  /** c05: TF-IDF weights per (doc, term) — explode once, two aggregations
    * (term-frequency per doc; document-frequency per term), broadcast the
    * tiny doc-count scalar. The df side aggregates to vocabulary size, so
    * the join back is vocab-sized, not corpus-sized. */
  val c05_tfidf: Q = (s, dir) =>
    tfidf(s, dir).orderBy(col("doc_id"), col("tok"))

  /** The (doc_id, tok, tfidf) table — shared by c05 (the listing) and
    * t10 (per-doc top-k keyword extraction over it). */
  def tfidf(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // corpus size as a 1-row aggregate broadcast into the plan (same
    // pattern as c08/c09) — an eager .count() here would be a driver-side
    // action scanning the corpus a second time at every invocation
    val n = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    val tok = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    val tf = tok.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val df = tok.groupBy(col("tok")).agg(countDistinct(col("doc_id")).as("df"))
    tf.join(df, "tok").crossJoin(n)
      .select(col("doc_id"), col("tok"),
        (floor((col("tf") * log(col("n_docs") / col("df"))) * 1e4 + 0.5) / 1e4).as("tfidf"))
      .filter(col("tfidf") > 0)
  }

  /** c11: deterministic training-order shuffle + sharding — the "global
    * shuffle" step every epoch of LLM training needs, with no RNG state:
    * a doc's position is md5(epoch_salt ++ doc_id), its shard the key's
    * first hex char (16 balanced shards). Changing the salt reshuffles;
    * re-runs, partitioning, and corpus appends never move existing docs
    * relative to each other within a shard. At 100 TB each shard orders
    * independently (the window partitions by shard — 16 parallel sorts of
    * 1/16th each, or one writer per shard); no global total order is ever
    * materialized. Output: the first 3 docs of each shard's reading order.
    */
  val c11_shuffle_shard: Q = (s, dir) => {
    val key = md5(concat(lit("epoch1:"), col("doc_id").cast("string")))
    val w = Window.partitionBy(col("shard")).orderBy(col("k"))
    Tables.documents(s, dir)
      .select(col("doc_id"), key.as("k"))
      .withColumn("shard", substring(col("k"), 1, 1))
      .withColumn("ord", row_number().over(w))
      .filter(col("ord") <= 3)
      .select(col("shard"), col("ord"), col("doc_id"))
      .orderBy(col("shard"), col("ord"))
  }

  /** c06: benchmark-contamination detection — for every doc in the `test`
    * split (same md5-prefix split as c02), count the distinct 5-gram
    * shingles it shares with ANY `train` doc. The scale shape is the
    * inverted-index equi-join (d04's): shingles explode once per side, the
    * train posting list is `distinct`ed down to vocabulary size with
    * map-side combine before the join, so shuffle volume is bounded by
    * distinct-shingle cardinality — never test×train pairs.
    */
  val c06_contamination: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
      .withColumn("bucket", splitAssign)
      .filter(col("bucket") =!= "val")
      .withColumn("w", split(col("text"), " ")) // materialized once (split-in-lambda re-evaluates)
      .filter(size(col("w")) >= 5)
    val shingles = docs.select(col("doc_id"), col("bucket"),
      explode(array_distinct(transform(
        sequence(lit(1), size(col("w")) - 4),
        i => concat_ws(" ", (0 to 4).map(k => element_at(col("w"), i + k)): _*)))).as("s"))
    val train = shingles.filter(col("bucket") === "train").select(col("s")).distinct()
    val test = shingles.filter(col("bucket") === "test").select(col("doc_id"), col("s"))
    test.join(train, Seq("s"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared_shingles"))
      .orderBy(col("doc_id"))
  }

  /** c07: repetition-ratio quality filter (Gopher-style "fraction of
    * duplicated tokens"): dup_ratio = 1 - distinct_tokens/total_tokens,
    * keep docs at or above 0.6. Pure narrow projection — array ops inside
    * codegen, zero shuffles; at 100 TB this is scan-bound by design. */
  val c07_repetition_filter: Q = (s, dir) => {
    Tables.documents(s, dir)
      .withColumn("w", split(col("text"), " "))
      .select(col("doc_id"), size(col("w")).cast("long").as("n_tokens"),
        (floor((lit(1.0) - size(array_distinct(col("w"))).cast("double") / size(col("w"))) * 1e4 + 0.5) / 1e4)
          .as("dup_ratio"))
      .filter(col("dup_ratio") >= 0.6)
      .orderBy(col("doc_id"))
  }

  /** c08: PMI collocation mining — pointwise mutual information of every
    * adjacent token bigram occurring ≥ 5 times:
    * `pmi = ln p(xy) − ln p(x) − ln p(y)` with unigram/bigram totals as
    * the denominators. The plan: one bigram explode + one unigram explode,
    * each map-side-combined to its frequency table; the join back is
    * VOCABULARY-sized on both probes (bigram table ⋈ unigram counts twice),
    * never corpus-sized, so shuffle volume is bounded by distinct-gram
    * cardinality. The two corpus totals ride along as 1-row cross joins
    * (broadcast), not driver-side collects.
    */
  val c08_pmi_bigrams: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
      .withColumn("w", split(col("text"), " ")) // materialized once
    val uni = docs.select(explode(col("w")).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("c"))
    val bigAll = docs.filter(size(col("w")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("w")) - 1),
        i => struct(element_at(col("w"), i).as("x"),
          element_at(col("w"), i + 1).as("y")))).as("b"))
      .select(col("b.x").as("x"), col("b.y").as("y"))
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("n_xy"))
      // checkpointed: feeds the TRUE total below AND the filtered join —
      // and p(xy) must normalize by ALL bigram mass, not the >=5
      // survivors' (a truncated denominator inflates every PMI by a
      // constant; the bias grows with the rare-bigram tail)
      .localCheckpoint()
    val big = bigAll.filter(col("n_xy") >= 5)
    val nUni = uni.agg(sum(col("c")).as("n_u"))
    val nBig = bigAll.agg(sum(col("n_xy")).as("n_b"))
    big
      .join(uni.select(col("t").as("x"), col("c").as("c_x")), "x")
      .join(uni.select(col("t").as("y"), col("c").as("c_y")), "y")
      .crossJoin(nUni).crossJoin(nBig)
      .select(col("x"), col("y"), col("n_xy"),
        (floor((log(col("n_xy").cast("double")) - log(col("n_b").cast("double"))
          - log(col("c_x").cast("double")) - log(col("c_y").cast("double"))
          + lit(2.0) * log(col("n_u").cast("double"))) * 1e4 + 0.5) / 1e4).as("pmi"))
      .orderBy(col("x"), col("y"))
  }

  /** c09: domain-uniform importance resampling — downsample every source
    * to ≈ the smallest source's size (the "flatten the domain mix" step of
    * a training-data pipeline). The keep-rule is a deterministic md5-hex
    * threshold per source: keep iff the first 4 hex chars of md5(doc_id)
    * sort below `floor(65536·target/count)` rendered as 4-digit hex — no
    * RNG state, stable under partitioning, re-runs, and corpus appends
    * (a doc's fate flips only if its source's count changes). Source
    * counts are a source-cardinality aggregate broadcast back onto a
    * narrow filter scan — the corpus itself shuffles nothing.
    */
  val c09_domain_resample: Q = (s, dir) =>
    md5ThresholdKeep(Tables.documents(s, dir),
      // uniform flattening: keep-rate = n_min / n_s
      (tgt, n) => lit(65536.0) * tgt / n)

  /** c14: TEMPERATURE-flattened source mixing — the "alpha sampling" step
    * between c09's uniform flattening and the natural distribution. With
    * α = 0.5 the per-source keep-rate is sqrt(n_min / n_s): the smallest
    * source keeps everything, a source 100× larger keeps 10× the smallest
    * source's share instead of 1× (c09) or 100× (natural) — the standard
    * multilingual/mixture re-weighting for training corpora. Same
    * deterministic md5-hex threshold machinery as c09 (no RNG state,
    * stable under partitioning and appends); sqrt of an exact-integer
    * ratio is correctly rounded in both engines, so the 16-bit threshold
    * is bit-identical and the oracle hash-matches. Plan shape: one
    * source-cardinality agg broadcast back onto a narrow filter scan —
    * the corpus shuffles nothing.
    */
  val c14_temperature_mix: Q = (s, dir) =>
    md5ThresholdKeep(Tables.documents(s, dir),
      // α = 0.5 temperature: keep-rate = sqrt(n_min / n_s); sqrt of an
      // exact-integer ratio is correctly rounded in both engines, so
      // the 16-bit threshold is bit-identical and the oracle matches
      (minN, n) => lit(65536.0) * sqrt(minN / n))

  /** The deterministic md5-threshold keep machinery c09 and c14 share —
    * ONE definition of the 4-hex threshold rendering (floor → lpad hex,
    * `zzzz` for keep-everything), so the cross-engine bit-identity
    * argument lives in one place. `rate16` maps (min source count,
    * source count) → the scaled 16-bit keep threshold. The counts
    * aggregate is checkpointed: it feeds the min() AND the threshold
    * join (without the cut both subtrees re-run the corpus count);
    * source-cardinality rows, free. */
  private def md5ThresholdKeep(docs: DataFrame,
      rate16: (Column, Column) => Column): DataFrame = {
    val counts = docs.groupBy(col("source")).agg(count(lit(1)).as("n_total"))
      .localCheckpoint()
    val minN = counts.agg(min(col("n_total")).as("n_min"))
    val thr = counts.crossJoin(minN)
      .withColumn("t16", floor(rate16(col("n_min"), col("n_total"))).cast("long"))
      .select(col("source"), col("n_total"),
        when(col("t16") >= 65536L, lit("zzzz"))
          .otherwise(lpad(lower(hex(col("t16"))), 4, "0")).as("thr"))
    docs.join(broadcast(thr), "source")
      .filter(substring(md5(col("doc_id").cast("string")), 1, 4) < col("thr"))
      .groupBy(col("source"), col("n_total"))
      .agg(count(lit(1)).as("n_kept"))
      .orderBy(col("source"))
  }

  /** c10: BPE tokenizer training — the first 3 merge rules learned from
    * the corpus (byte-pair encoding, the tokenizer-training core step).
    *
    * Exactly the real BPE training shape: train on the WORD-FREQUENCY
    * table, not the corpus (the `groupBy(word)` first line collapses
    * 100 TB of text to vocabulary size — this is why BPE training is
    * tractable at all); per merge, one pair-count aggregate (bounded by
    * pair-vocabulary) + a broadcast 1-row argmax rewriting the sequences
    * in place. Merge application is ONE left-to-right non-overlapping
    * replace pass per rule — `replace()` semantics are identical in the
    * JVM and DuckDB, which is what makes the whole training loop
    * hash-checkable. Sequences carry `|` token delimiters on BOTH sides
    * of every token so a pair pattern can never match a token suffix or
    * prefix; words containing a literal `|` are excluded up front (the
    * delimiter must be outside the corpus alphabet — both sides filter
    * identically).
    *
    * Each learned rule is applied TO FIXPOINT (repeat the single-pass
    * replace until no sequence changes — textbook BPE's within-rule
    * semantics; a back-to-back run like `abab` fully merges before the
    * next rule is learned). The engine loops on the driver over the tiny
    * word table with a total-length convergence check (replace strictly
    * shortens, so the fixpoint is finite); the oracle reaches the same
    * fixpoint with a recursive CTE. The merge rule itself is collected to
    * the driver — it IS the training output, exactly what a BPE trainer
    * materializes.
    */
  val c10_bpe_merges: Q = (s, dir) => {
    val (_, rules) = bpeTrain(s, dir)
    import s.implicits._
    rules.toDF("step", "x", "y", "cnt").orderBy(col("step"))
  }

  /** Shared BPE trainer: learns the first 3 merge rules on the
    * word-frequency table and returns BOTH the rules and the word table
    * with every rule applied to fixpoint — c10 emits the rules, c13
    * tokenizes the corpus with them. */
  private def bpeTrain(s: SparkSession, dir: String)
      : (DataFrame, Seq[(Int, String, String, Long)]) = {
    val words = Tables.documents(s, dir)
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "" && !col("word").contains("|"))
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
    var w = words.withColumn("seq",
      concat(lit("|"), concat_ws("|", split(col("word"), "")), lit("|")))
      .localCheckpoint()
    // Option: a degenerate corpus (all 1-char words, or no words at all)
    // has no pairs — learning just stops early, emitting fewer rules,
    // exactly as the oracle's empty b_i rows do
    def bestPair(wd: DataFrame): Option[(String, String, Long)] =
      wd.select(col("n"), filter(split(col("seq"), "\\|"), t => t =!= "").as("tk"))
        .filter(size(col("tk")) >= 2) // sequence(1, 0) would REVERSE
        .select(col("n"), explode(expr(
          "transform(sequence(1, size(tk) - 1), i -> named_struct('x', element_at(tk, i), 'y', element_at(tk, i + 1)))")).as("p"))
        .groupBy(col("p.x").as("x"), col("p.y").as("y"))
        .agg(sum(col("n")).as("cnt"))
        .orderBy(col("cnt").desc, col("x"), col("y")).limit(1)
        .collect().headOption
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val rules = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var step = 1
    var done = false
    while (step <= 3 && !done) {
      bestPair(w) match {
        case None => done = true
        case Some((x, y, cnt)) =>
          val (pat, rep) = (s"|$x|$y|", s"|$x$y|")
          var len = w.agg(sum(length(col("seq")))).head().getLong(0)
          var converged = false
          while (!converged) { // fixpoint: one replace pass per round
            val prev = w
            w = w.withColumn("seq", replace(col("seq"), lit(pat), lit(rep)))
              .localCheckpoint()
            val newLen = w.agg(sum(length(col("seq")))).head().getLong(0)
            converged = newLen == len
            len = newLen
            // the superseded iterate's blocks are dead once w is
            // materialized (the PageRank/CC discipline)
            graft.CacheOps.unpersistLocalCheckpoint(prev)
          }
          rules += ((step, x, y, cnt))
          step += 1
      }
    }
    (w, rules.toSeq)
  }

  /** c13: BPE ENCODE — tokenize the corpus with the rules c10 learned
    * (the apply half of tokenizer training; what actually runs over all
    * 100 TB once the trainer has finished on the vocabulary table).
    * Semantics match training exactly: each learned rule applied to
    * within-rule fixpoint, in learned order, on the word-frequency table
    * — so the corpus token distribution is `sum(word count)` per emitted
    * token. The 100 TB shape is the same reason BPE training scales: the
    * expensive fixpoint loop runs on the VOCABULARY (groupBy(word)
    * collapsed), and re-tokenizing the raw corpus is then a broadcast
    * word→tokens join — here the word table IS the corpus aggregate, so
    * the output needs no second pass. Oracle: the c10 recursive-CTE
    * chain continued one step — tokenize `w4` and aggregate.
    */
  val c13_bpe_encode: Q = (s, dir) => {
    val (w, _) = bpeTrain(s, dir)
    w.select(col("n"), explode(
        filter(split(col("seq"), "\\|"), t => t =!= "")).as("token"))
      .groupBy(col("token")).agg(sum(col("n")).as("cnt"))
      .orderBy(col("token"))
  }

  /** c12: deterministic MLM masking audit — BERT-style ~15% token
    * selection with NO RNG state: position i of doc d is masked iff the
    * first 2 hex chars of md5(d:i) sort below '26' (0x26/0x100 ≈ 14.8%).
    * Deterministic under re-runs, partitioning, and corpus appends — the
    * property that makes a masking pass reproducible across a 100 TB
    * corpus and lets train-time and debug-time agree on what was masked.
    * Output: per-doc token/mask counts + masked-position checksum (any
    * selection drift changes it). Pure narrow explode → per-doc partial+
    * final aggregate; nothing corpus-sized shuffles but (doc, stats) rows.
    */
  val c12_mlm_mask: Q = (s, dir) => {
    val masked = substring(md5(concat(col("doc_id").cast("string"), lit(":"),
      col("i").cast("string"))), 1, 2) < "26"
    Tables.documents(s, dir)
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("p", "tok")))
      .select(col("doc_id"), (col("p") + 1).as("i"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(masked, 1L).otherwise(0L)).as("n_masked"),
        sum(when(masked, col("i")).otherwise(0L)).as("masked_pos_sum"))
      .orderBy(col("doc_id"))
  }

  /** c15: stratified WEIGHTED sampling without replacement — Sequential
    * Poisson (priority) sampling, Ohlsson 1998: per item a priority key
    * u/w from a deterministic hash-uniform u and weight w (chars here —
    * "sample docs proportional to size"), keep the k smallest per
    * stratum. The πps workhorse for building training mixtures where
    * plain Bernoulli (c01) can't honor weights and exact Gumbel/A-ES
    * ranking would need ln() (libm-divergent across engines); the
    * priority key is ONE IEEE division of exact integers — bit-identical
    * everywhere, so the sample is reproducible across engines, runs and
    * partitionings.
    *
    * Plan: the key is computed scan-side (md5 + conv, codegen'd), and
    * the per-stratum top-k is a bounded window over source partitions —
    * identical shape to q09; at 100 TB the window input is pre-pruned by
    * nothing but the scan because every row carries its own priority (no
    * global sort, no driver state).
    */
  val c15_weighted_sample: Q = (s, dir) => {
    val w = Window.partitionBy(col("source"))
      .orderBy(col("skey"), col("doc_id"))
    Tables.documents(s, dir)
      .withColumn("skey", poissonKey)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 20)
      .select(col("source"), col("rk"), col("doc_id"), col("n_chars"), col("skey"))
      .orderBy(col("source"), col("rk"))
  }

  /** c16: the END-TO-END curation pipeline as ONE query — exact-dedup
    * keepers → token-count quality gate → sequential-Poisson weighted
    * sample per source (the d01 → t02-ish → c15 chain a real corpus
    * build runs nightly), composed so Catalyst optimizes ACROSS stage
    * boundaries instead of across jobs.
    *
    * Scale shape: the keeper stage carries every downstream column
    * through the content-hash aggregate (`min`/`min_by` — copies share
    * text, so text-derived fields agree; source attribution follows the
    * min-doc_id keeper, declared) — NO join back to the corpus, the
    * lesson the d14 probe taught this round. The quality gate is a
    * filter on the agg output; the sample is the c15 per-stratum
    * bounded window with map-side WindowGroupLimit. One content-hash
    * shuffle + one source-window shuffle, total.
    */
  /** c16's dedup + quality-gate prefix (content-hash keepers → token
    * gate). */
  private def c16Keepers(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"),
        min_by(col("source"), col("doc_id")).as("source"),
        min(col("n_chars")).as("n_chars"),
        min(size(split(col("text"), " "))).as("n_tokens"))
      .filter(col("n_tokens") >= 20)

  val c16_curation_e2e: Q = (s, dir) => {
    val keep = c16Keepers(Tables.documents(s, dir))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("skey"), col("doc_id"))
    keep.withColumn("skey", poissonKey)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 10)
      .select(col("source"), col("rk"), col("doc_id"), col("n_tokens"))
      .orderBy(col("source"), col("rk"))
  }

  /** c17: DECONTAMINATED train/test split — c02's group-stable md5 split
    * hardened the way an eval-safe pipeline must be: any TRAIN document
    * that is a MinHash-LSH near-dup candidate (d02's banding, the same
    * pipeline) of a VAL or TEST document is QUARANTINED out of train —
    * the near-duplicate leakage that c06's exact-contamination check
    * can't see (paraphrased/near-copied eval documents still inflate
    * scores). Output = per-bucket doc counts with `quarantined` as its
    * own bucket, so the eviction volume is itself a monitored number.
    *
    * Plan shape: the split column is a scalar md5 (no shuffle); the
    * adjacency is d02's banded pair stream joined twice against the tiny
    * (doc_id, split) projection — key-uniform joins on doc ids — and the
    * eviction is one left-semi membership test. At 100 TB the candidate
    * stream is the d02 posting-bucket space (measured linear, r6), never
    * corpus².
    */
  val c17_decontaminated_split: Q = (s, dir) => {
    val docs = Tables.documents(s, dir).withColumn("split", splitAssign)
    val splits = docs.select(col("doc_id"), col("split")).localCheckpoint()
    val adj = DedupQueries.minhashPairs(s, dir)
      .join(splits.select(col("doc_id").as("doc_a"), col("split").as("sa")), Seq("doc_a"))
      .join(splits.select(col("doc_id").as("doc_b"), col("split").as("sb")), Seq("doc_b"))
    // one traversal: a pair is contaminating iff EXACTLY one side is
    // train (within-train near-dups are d01/d02's business, not
    // leakage); pick the train-side doc. A two-branch union would run
    // the whole minhash pair pipeline once per branch (different pushed
    // filters defeat exchange reuse).
    val contaminated = adj
      .filter((col("sa") === "train") =!= (col("sb") === "train"))
      .select(when(col("sa") === "train", col("doc_a"))
        .otherwise(col("doc_b")).as("doc_id"))
      .distinct()
    docs.join(contaminated.withColumn("quar", lit(1)), Seq("doc_id"), "left")
      .withColumn("bucket",
        when(col("split") === "train" && col("quar") === 1, "quarantined")
          .otherwise(col("split")))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("bucket"))
  }

  val all: Map[String, Q] = Map(
    "c17_decontaminated_split" -> c17_decontaminated_split,
    "c16_curation_e2e" -> c16_curation_e2e,
    "c15_weighted_sample" -> c15_weighted_sample,
    "c12_mlm_mask" -> c12_mlm_mask,
    "t07_pii_redaction" -> t07_pii_redaction,
    "c08_pmi_bigrams" -> c08_pmi_bigrams,
    "c09_domain_resample" -> c09_domain_resample,
    "c14_temperature_mix" -> c14_temperature_mix,
    "c10_bpe_merges" -> c10_bpe_merges,
    "c13_bpe_encode" -> c13_bpe_encode,
    "c01_sampled_docs" -> c01_sampled_docs,
    "c02_train_test_split" -> c02_train_test_split,
    "c03_context_chunks" -> c03_context_chunks,
    "c04_seq_packing" -> c04_seq_packing,
    "c05_tfidf" -> c05_tfidf,
    "c06_contamination" -> c06_contamination,
    "c07_repetition_filter" -> c07_repetition_filter,
    "c11_shuffle_shard" -> c11_shuffle_shard,
  )

  // KNOWN BOUND (degenerate corpora): the recursive bpeIter chain CROSS
  // JOINs each step's single-row b_i, so a corpus where fewer than 3
  // merges are learnable (all 1-char words) empties b_i and with it the
  // whole c13 oracle, while the engine correctly stops early and emits
  // the partially-merged table. The gate corpora always admit 3 merges;
  // a generator change that breaks that invariant surfaces as a loud
  // rows-mismatch here, not a silent wrong-pass.
  private val bpeIter = (i: Int) =>
    s"""p$i AS (
       |  SELECT p['x'] AS x, p['y'] AS y, CAST(sum(n) AS BIGINT) AS cnt FROM (
       |    SELECT n, unnest(list_transform(range(1, len(tk)),
       |      j -> struct_pack(x := tk[j], y := tk[j+1]))) AS p
       |    FROM (SELECT n, list_filter(string_split(seq, '|'), t -> t <> '') AS tk FROM w$i)
       |    WHERE len(tk) >= 2)
       |  GROUP BY 1, 2),
       |b$i AS (SELECT x, y, cnt FROM p$i ORDER BY cnt DESC, x, y LIMIT 1),
       |r$i AS (
       |  SELECT word, n, seq FROM w$i
       |  UNION
       |  SELECT word, n, replace(seq, '|' || x || '|' || y || '|', '|' || x || y || '|')
       |  FROM r$i CROSS JOIN b$i
       |  WHERE replace(seq, '|' || x || '|' || y || '|', '|' || x || y || '|') <> seq),
       |w${i + 1} AS (
       |  SELECT r.word, r.n, r.seq FROM r$i r CROSS JOIN b$i
       |  WHERE replace(r.seq, '|' || x || '|' || y || '|', '|' || x || y || '|') = r.seq)""".stripMargin

  /** DuckDB oracle twins (driver hash-compares values column-sorted). */
  val oracles: Map[String, String] = Map(
    // c15: DuckDB's 0x-string cast is its hex→int path; the priority is
    // the identical exact-integer IEEE division, so no rounding is
    // needed anywhere, including on the emitted key.
    // c16: keeper fields via min/min_by through the hash agg (copies
    // share text, so token/char counts agree; source follows the
    // min-doc_id keeper), then the c15 sample over the survivors.
    "c16_curation_e2e" ->
      """WITH keep AS (
        |  SELECT min(doc_id) AS doc_id,
        |    min_by(source, doc_id) AS source,
        |    min(n_chars) AS n_chars,
        |    min(len(string_split(text, ' '))) AS n_tokens
        |  FROM documents GROUP BY md5(text)),
        |q AS (SELECT * FROM keep WHERE n_tokens >= 20),
        |k AS (
        |  SELECT source, doc_id, n_tokens,
        |    CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 12)
        |         AS BIGINT) + 1 AS DOUBLE) / greatest(n_chars, 1) AS skey
        |  FROM q),
        |r AS (
        |  SELECT source, doc_id, n_tokens, skey,
        |    row_number() OVER (PARTITION BY source ORDER BY skey, doc_id) AS rk
        |  FROM k)
        |SELECT source, rk, doc_id, n_tokens FROM r
        |WHERE rk <= 10 ORDER BY source, rk""".stripMargin,
    "c15_weighted_sample" ->
      """WITH k AS (
        |  SELECT source, doc_id, n_chars,
        |    CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 12)
        |         AS BIGINT) + 1 AS DOUBLE) / greatest(n_chars, 1) AS skey
        |  FROM documents),
        |r AS (
        |  SELECT source, doc_id, n_chars, skey,
        |    row_number() OVER (PARTITION BY source ORDER BY skey, doc_id) AS rk
        |  FROM k)
        |SELECT source, rk, doc_id, n_chars, skey FROM r
        |WHERE rk <= 20 ORDER BY source, rk""".stripMargin,
    "c10_bpe_merges" ->
      s"""WITH RECURSIVE words AS (
         |  SELECT word, count(*) AS n FROM (
         |    SELECT unnest(string_split(text, ' ')) AS word FROM documents)
         |  WHERE word <> '' AND word NOT LIKE '%|%' GROUP BY word),
         |w1 AS (
         |  SELECT word, n,
         |    '|' || array_to_string(regexp_split_to_array(word, ''), '|') || '|' AS seq
         |  FROM words),
         |${bpeIter(1)},
         |${bpeIter(2)},
         |${bpeIter(3)}
         |SELECT 1 AS step, x, y, cnt FROM b1
         |UNION ALL SELECT 2, x, y, cnt FROM b2
         |UNION ALL SELECT 3, x, y, cnt FROM b3
         |ORDER BY step""".stripMargin,
    // the same learned-merge chain, continued one step: tokenize the
    // fully-merged word table (w4) and aggregate token frequencies
    "c13_bpe_encode" ->
      s"""WITH RECURSIVE words AS (
         |  SELECT word, count(*) AS n FROM (
         |    SELECT unnest(string_split(text, ' ')) AS word FROM documents)
         |  WHERE word <> '' AND word NOT LIKE '%|%' GROUP BY word),
         |w1 AS (
         |  SELECT word, n,
         |    '|' || array_to_string(regexp_split_to_array(word, ''), '|') || '|' AS seq
         |  FROM words),
         |${bpeIter(1)},
         |${bpeIter(2)},
         |${bpeIter(3)}
         |SELECT token, CAST(sum(n) AS BIGINT) AS cnt FROM (
         |  SELECT n, unnest(list_filter(string_split(seq, '|'), t -> t <> '')) AS token
         |  FROM w4)
         |GROUP BY token ORDER BY token""".stripMargin,
    "c08_pmi_bigrams" ->
      """WITH d AS (
        |  SELECT string_split(text, ' ') AS w FROM documents),
        |uni AS (
        |  SELECT t, count(*) AS c FROM (SELECT unnest(w) AS t FROM d) GROUP BY t),
        |bigall AS (
        |  SELECT b['x'] AS x, b['y'] AS y, count(*) AS n_xy FROM (
        |    SELECT unnest(list_transform(range(1, len(w)),
        |      i -> struct_pack(x := w[i], y := w[i+1]))) AS b
        |    FROM d WHERE len(w) >= 2)
        |  GROUP BY 1, 2),
        |big AS (SELECT * FROM bigall WHERE n_xy >= 5),
        |nu AS (SELECT CAST(sum(c) AS BIGINT) AS n_u FROM uni),
        |-- p(xy) normalizes by ALL bigram mass, not the >=5 survivors'
        |nb AS (SELECT CAST(sum(n_xy) AS BIGINT) AS n_b FROM bigall)
        |SELECT big.x, big.y, n_xy,
        |  floor((ln(CAST(n_xy AS DOUBLE)) - ln(CAST(n_b AS DOUBLE))
        |    - ln(CAST(cx.c AS DOUBLE)) - ln(CAST(cy.c AS DOUBLE))
        |    + 2.0 * ln(CAST(n_u AS DOUBLE))) * 1e4 + 0.5) / 1e4 AS pmi
        |FROM big JOIN uni cx ON big.x = cx.t JOIN uni cy ON big.y = cy.t
        |CROSS JOIN nu CROSS JOIN nb
        |ORDER BY big.x, big.y""".stripMargin,
    "c09_domain_resample" ->
      """WITH counts AS (
        |  SELECT source, count(*) AS n_total FROM documents GROUP BY source),
        |tgt AS (SELECT min(n_total) AS tgt FROM counts),
        |thr AS (
        |  SELECT source, n_total,
        |    CASE WHEN CAST(floor(65536.0 * tgt / n_total) AS BIGINT) >= 65536
        |         THEN 'zzzz'
        |         ELSE lpad(lower(hex(CAST(floor(65536.0 * tgt / n_total) AS BIGINT))), 4, '0')
        |    END AS thr
        |  FROM counts CROSS JOIN tgt)
        |SELECT d.source, thr.n_total, count(*) AS n_kept
        |FROM documents d JOIN thr ON d.source = thr.source
        |WHERE substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4) < thr.thr
        |GROUP BY d.source, thr.n_total
        |ORDER BY d.source""".stripMargin,
    // c14: c09's threshold machinery with the sqrt temperature rule —
    // sqrt of an exact-integer ratio is correctly rounded IEEE in both
    // engines, so floor(65536·sqrt(...)) is bit-identical.
    "c14_temperature_mix" ->
      """WITH counts AS (
        |  SELECT source, count(*) AS n_total FROM documents GROUP BY source),
        |mn AS (SELECT min(n_total) AS n_min FROM counts),
        |thr AS (
        |  SELECT source, n_total,
        |    CASE WHEN CAST(floor(65536.0 * sqrt(CAST(n_min AS DOUBLE) / n_total)) AS BIGINT) >= 65536
        |         THEN 'zzzz'
        |         ELSE lpad(lower(hex(CAST(floor(65536.0 * sqrt(CAST(n_min AS DOUBLE) / n_total)) AS BIGINT))), 4, '0')
        |    END AS thr
        |  FROM counts CROSS JOIN mn)
        |SELECT d.source, thr.n_total, count(*) AS n_kept
        |FROM documents d JOIN thr ON d.source = thr.source
        |WHERE substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4) < thr.thr
        |GROUP BY d.source, thr.n_total
        |ORDER BY d.source""".stripMargin,
    "t07_pii_redaction" ->
      """SELECT doc_id,
        |  regexp_replace(text, '\b(customer|supplier|key)\b', '<REDACTED>', 'g') AS redacted,
        |  len(regexp_extract_all(text, '\b(customer|supplier|key)\b')) AS n_hits
        |FROM documents ORDER BY doc_id""".stripMargin,
    "c01_sampled_docs" ->
      """SELECT doc_id, source, n_chars FROM documents
        |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <= '28'
        |ORDER BY doc_id""".stripMargin,
    "c02_train_test_split" ->
      """WITH h AS (
        |  SELECT substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS hx, n_chars FROM documents)
        |SELECT CASE WHEN hx <= 'cb' THEN 'train' WHEN hx <= 'e5' THEN 'val'
        |            ELSE 'test' END AS split,
        |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM h GROUP BY 1 ORDER BY split""".stripMargin,
    "c03_context_chunks" ->
      """WITH e AS (
        |  SELECT doc_id, text,
        |    unnest(generate_series(0, CAST(ceil(length(text)/100.0) AS BIGINT) - 1)) AS chunk_idx
        |  FROM documents WHERE length(text) > 0)
        |SELECT doc_id, chunk_idx,
        |  substr(text, CAST(chunk_idx*100+1 AS INT), 100) AS chunk
        |FROM e ORDER BY doc_id, chunk_idx""".stripMargin,
    "c04_seq_packing" ->
      """WITH t AS (
        |  SELECT source, doc_id, len(string_split(text, ' ')) AS toks FROM documents),
        |b AS (
        |  SELECT source, toks,
        |    CAST(floor(coalesce(sum(toks) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 500) AS BIGINT) AS bin
        |  FROM t)
        |SELECT source, bin, count(*) AS n_docs, CAST(sum(toks) AS BIGINT) AS n_tokens
        |FROM b GROUP BY source, bin ORDER BY source, bin""".stripMargin,
    "c05_tfidf" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok GROUP BY doc_id, tok),
        |df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM tok GROUP BY tok),
        |n AS (SELECT count(*) AS n FROM documents)
        |SELECT tf.doc_id, tf.tok,
        |  floor((tf.tf * ln(n.n / df.df)) * 1e4 + 0.5) / 1e4 AS tfidf
        |FROM tf JOIN df USING (tok) CROSS JOIN n
        |WHERE floor((tf.tf * ln(n.n / df.df)) * 1e4 + 0.5) / 1e4 > 0
        |ORDER BY doc_id, tok""".stripMargin,
    "c06_contamination" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <= 'cb' THEN 'train'
        |         WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <= 'e5' THEN 'val'
        |         ELSE 'test' END AS bucket,
        |    string_split(text, ' ') AS w
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, bucket, unnest(list_distinct(list_transform(
        |    range(1, len(w) - 3),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]))) AS s
        |  FROM d WHERE bucket <> 'val' AND len(w) >= 5),
        |train AS (SELECT DISTINCT s FROM sh WHERE bucket = 'train')
        |SELECT t.doc_id, count(*) AS n_shared_shingles
        |FROM sh t JOIN train USING (s) WHERE t.bucket = 'test'
        |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin,
    "c12_mlm_mask" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    unnest(range(1, len(string_split(text, ' ')) + 1)) AS i
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, i,
        |    substring(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 2) < '26' AS msk
        |  FROM tk)
        |SELECT doc_id, count(*) AS n_tokens,
        |  CAST(sum(CASE WHEN msk THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
        |  CAST(sum(CASE WHEN msk THEN i ELSE 0 END) AS BIGINT) AS masked_pos_sum
        |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "c11_shuffle_shard" ->
      """WITH d AS (
        |  SELECT doc_id, md5('epoch1:' || CAST(doc_id AS VARCHAR)) AS k
        |  FROM documents),
        |r AS (
        |  SELECT substr(k, 1, 1) AS shard, doc_id,
        |    row_number() OVER (PARTITION BY substr(k, 1, 1) ORDER BY k) AS ord
        |  FROM d)
        |SELECT shard, ord, doc_id FROM r WHERE ord <= 3
        |ORDER BY shard, ord""".stripMargin,
    "t10_keywords" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok GROUP BY doc_id, tok),
        |df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM tok GROUP BY tok),
        |n AS (SELECT count(*) AS n FROM documents),
        |base AS (
        |  SELECT tf.doc_id, tf.tok,
        |    floor((tf.tf * ln(n.n / df.df)) * 1e4 + 0.5) / 1e4 AS tfidf
        |  FROM tf JOIN df USING (tok) CROSS JOIN n
        |  WHERE floor((tf.tf * ln(n.n / df.df)) * 1e4 + 0.5) / 1e4 > 0),
        |r AS (
        |  SELECT doc_id, tok, tfidf,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, tok) AS rn
        |  FROM base)
        |SELECT doc_id, tok, tfidf FROM r WHERE rn <= 3
        |ORDER BY doc_id, tfidf DESC, tok""".stripMargin,
    "c07_repetition_filter" ->
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |r AS (
        |  SELECT doc_id, len(w) AS n_tokens,
        |    floor((1.0 - len(list_distinct(w))::DOUBLE / len(w)) * 1e4 + 0.5) / 1e4 AS dup_ratio
        |  FROM w)
        |SELECT doc_id, n_tokens, dup_ratio FROM r
        |WHERE dup_ratio >= 0.6 ORDER BY doc_id""".stripMargin,
  )
}
