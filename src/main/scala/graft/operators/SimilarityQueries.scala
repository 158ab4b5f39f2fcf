package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over `embeddings.embedding` (Array[Float], 64-dim).
  *
  * Dot products use zip_with + aggregate (higher-order functions — fully
  * codegen'd, no UDF), accumulating left-to-right in double after a
  * float→double cast, which is bit-identical to DuckDB's
  * list_dot_product over a DOUBLE[] cast — that's what makes an FP oracle
  * possible. Cosine is computed with one shared formula:
  * dot / sqrt(normA * normB).
  *
  * Scale notes: s01 is the brute-force baseline — broadcast the (small)
  * query set against the full corpus: one scan, no shuffle of the big
  * side, per-partition top-k heaps via window-over-qid. s02 is the scale
  * path: sign-LSH bucketing turns O(N·Q) into O(bucket²) with the
  * candidate join keyed on the bucket id.
  */
object SimilarityQueries {

  type Q = (SparkSession, String) => DataFrame

  /** embedding as double[] — all arithmetic in double. */
  private def vecD(c: Column): Column = transform(c, x => x.cast("double"))

  /** Native codegen'd dot product ([[graft.functions.DotProduct]]) — same
    * left-to-right double accumulation as the HOF composition
    * `aggregate(zip_with(a,b,*),0d,+)` it replaces (bit-identical results,
    * so the DuckDB oracle is unaffected), but whole-stage-codegen'd
    * instead of CodegenFallback-interpreted in the corpus×queries loop.
    */
  private def dot(a: Column, b: Column): Column =
    call_function("graft_dot", a, b)

  /** cosine(a, b) with pre-computed squared norms. */
  private def cosine(a: Column, b: Column, na2: Column, nb2: Column): Column =
    dot(a, b) / sqrt(na2 * nb2)

  /** INTEGER rank key at 1e-6 granularity: floor(cos·1e6 + 0.5) as LONG.
    * The r10 sf0.1 gate sweep caught the old `round(cos, 6)` →
    * `round(·, 4)` discipline diverging between engines (Spark round()
    * is HALF_UP, DuckDB's HALF_EVEN — they disagree exactly on .5
    * boundary values, and at 10× the pair count several sims landed on
    * one). Migrated family-wide: ranking orders by this exact integer,
    * display goes through [[sim4]], and no engine round() remains
    * anywhere in the similarity family. */
  private def rank6(cosr: Column): Column = floor(cosr * 1e6 + 0.5).cast("long")

  /** Displayed similarity: ONE half-up quantization from the RAW cosine
    * (the s06c discipline) — identical IEEE ops in both engines. */
  private def sim4(cosr: Column): Column = floor(cosr * 1e4 + 0.5) / 1e4

  /** sign-LSH bucket over the first `bits` dims: bit j set iff v[j] > 0.
    * Axis-aligned hyperplanes — deterministic, no stored model. */
  private def signBucket(v: Column, bits: Int): Column =
    (0 until bits).map(j =>
      when(element_at(v, j + 1) > 0.0, lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)

  private def embs(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    Tables.embeddings(s, dir).select(
      col("vec_id"), vecD(col("embedding")).as("v"))
      .withColumn("n2", dot(col("v"), col("v")))
  }

  /** s01: brute-force cosine top-k (k=10) for a fixed query set
    * (vec_id < 10). The query side is tiny and broadcast; the corpus is
    * scanned exactly once. Ranking uses the exact-integer [[rank6]] key
    * + vec_id so the order is insensitive to last-ulp FP noise AND free
    * of engine round() semantics.
    */
  val s01_knn_brute: Q = (s, dir) => {
    val e = embs(s, dir)
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("n2").as("qn2"))
    val scored = e.join(broadcast(q), col("vec_id") =!= col("qid"))
      .withColumn("cosr", cosine(col("qv"), col("v"), col("qn2"), col("n2")))
      .withColumn("cos", rank6(col("cosr")))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 10)
      .select(col("qid"), col("rk"), col("vec_id").as("neighbor"),
        sim4(col("cosr")).as("sim"))
      .orderBy(col("qid"), col("rk"))
  }

  /** s02: LSH-bucketed ANN — the linear-scale variant. 8-bit sign bucket
    * (256 cells) prunes candidates to the query's own cell; exact cosine
    * re-ranks within the cell. Recall trades against the bucket width;
    * at 100 TB you'd multi-probe neighboring cells, same plan shape.
    */
  val s02_knn_lsh: Q = (s, dir) => {
    val e = embs(s, dir).withColumn("bucket", signBucket(col("v"), 8))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("n2").as("qn2"), col("bucket").as("qbucket"))
    val scored = e.join(broadcast(q),
        col("bucket") === col("qbucket") && col("vec_id") =!= col("qid"))
      .withColumn("cosr", cosine(col("qv"), col("v"), col("qn2"), col("n2")))
      .withColumn("cos", rank6(col("cosr")))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("qid"), col("rk"), col("vec_id").as("neighbor"),
        sim4(col("cosr")).as("sim"))
      .orderBy(col("qid"), col("rk"))
  }

  /** d05: embedding-cosine near-dup pairs — LSH-blocked (8-bit sign
    * bucket) then exact cosine ≥ 0.4 within the block. Blocking keeps the
    * pair space O(Σ bucket²) instead of O(N²); this is the only way a
    * pairwise similarity filter survives 100 TB.
    */
  val d05_embed_neardup: Q = (s, dir) => {
    val e = embs(s, dir).withColumn("bucket", signBucket(col("v"), 8))
    val a = e.select(col("bucket"), col("vec_id").as("ia"),
      col("v").as("va"), col("n2").as("na2"))
    val b = e.select(col("bucket").as("bucket_b"), col("vec_id").as("ib"),
      col("v").as("vb"), col("n2").as("nb2"))
    a.join(b, col("bucket") === col("bucket_b") && col("ia") < col("ib"))
      .withColumn("cos", sim4(cosine(col("va"), col("vb"), col("na2"), col("nb2"))))
      .filter(col("cos") >= 0.4)
      .select(col("ia").as("vec_a"), col("ib").as("vec_b"), col("cos"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** s03: IVF (inverted-file) ANN — the clustered scale path. Coarse
    * quantizer: K deterministic seed centroids (lowest vec_ids) refined by
    * one Lloyd iteration, all as DataFrame ops (no MLlib, no RNG — results
    * are reproducible under any partitioning). Corpus rows are assigned to
    * their nearest centroid cell; each query probes only its own cell and
    * exact cosine re-ranks inside.
    *
    * The Lloyd-step centroid mean is computed from PRE-QUANTIZED integer
    * sums (x → round(x·2^20) as long, summed exactly, divided back once at
    * the end): double `avg` depends on partial-aggregation order, so the
    * same corpus could yield last-ulp-different centroids — and near-tie
    * cell assignments that flip — between runs. Integer sums are
    * associative, making the trained quantizer BIT-IDENTICAL under any
    * partitioning (what a reproducible 100 TB index build needs) — and,
    * as a consequence, exactly hash-checkable against the DuckDB oracle.
    *
    * At 100 TB: centroids are tiny and broadcast; assignment is one narrow
    * scan; the probe join shuffles only by cell id. Multi-probe (nearest P
    * cells) raises recall with the same plan shape.
    */
  val s03_knn_ivf: Q = (s, dir) => ivfKnn(s, dir, nProbe = 1)

  /** s04: the multi-probe variant — each query searches its `nProbe`=2
    * nearest cells. Same build, same plan shape (the candidate join fans
    * out by a constant factor); recall rises because near-boundary
    * neighbors living in the runner-up cell become reachable. */
  val s04_knn_ivf_multiprobe: Q = (s, dir) => ivfKnn(s, dir, nProbe = 2)

  /** The shared IVF build (seed → one quantized-integer Lloyd step →
    * final ranking of every vector against the refined centroids): rk=1
    * is cell MEMBERSHIP, rk≤P the probe set. Consumed by s03/s04 (ANN),
    * d10 (SemDeDup blocking) and s06c (kNN-graph blocking). `k` is the
    * centroid count — the data-adaptive partition knob: at corpus scale
    * it grows with N (cells ≈ N / target_cell_size) so Σ|cell|² work
    * stays linear; the gate queries pin the 16-cell build their oracles
    * replicate. */
  private def ivfRanked(s: SparkSession, dir: String, k: Int = 16): DataFrame = {
    val e = embs(s, dir)
    // seed centroids: the k lowest vec_ids (deterministic)
    val seeds = e.orderBy(col("vec_id")).limit(k)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    // assignment: rank cells per point by (d2, cid); rk=1 = membership.
    // cn2 = dot(cv, cv) once per CENTROID on the broadcast side (it was
    // recomputed per (point, centroid) row — N·k redundant 64-multiply
    // loops per pass); same expression on the same doubles, so the d2
    // values are bit-identical to the inline form
    def ranked(points: DataFrame, cents: DataFrame): DataFrame = {
      val c2 = cents.withColumn("cn2", dot(col("cv"), col("cv")))
      val joined = points.join(broadcast(c2))
        .withColumn("d2", col("n2") + col("cn2") -
          lit(2.0) * dot(col("v"), col("cv")))
      val w = Window.partitionBy(col("vec_id")).orderBy(col("d2"), col("cid"))
      joined.withColumn("rk", row_number().over(w)).drop("cn2")
    }
    // one Lloyd step: assign to nearest seed, average per cell.
    // The refined-centroid table is k rows, but its SUBTREE is the whole
    // seed-assignment + Lloyd pipeline (corpus window + two aggs): staged,
    // the final ranking's plan shrinks from two nested corpus passes to
    // scan + one tiny broadcast — cheaper to cut than to replan/re-reuse
    // (A/B'd this round; the corpus-sized frames stay UN-staged, see the
    // ivfKnn scaladoc).
    val assigned0 = ranked(e, seeds).filter(col("rk") === 1)
    ranked(e, graft.Checkpoints.stage(lloydRefine(assigned0)))
  }

  /** The shared quantized Lloyd step: per-cell dimension means from
    * PRE-QUANTIZED integers (see [[ivfRanked]]'s scaladoc) → refined
    * (cid, cv) centroids. Input needs (cid, v). */
  private def lloydRefine(assigned: DataFrame): DataFrame =
    assigned
      .select(col("cid"), posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy(col("cid"), col("dim"))
      .agg((sum(floor(col("x") * 1048576.0 + 0.5).cast("long")).cast("double")
        / count(lit(1)) / 1048576.0).as("m"))
      .groupBy(col("cid"))
      .agg(array_sort(collect_list(struct(col("dim"), col("m")))).as("pairs"))
      .select(col("cid"), expr("transform(pairs, p -> p.m)").as("cv"))

  private def ivfKnn(s: SparkSession, dir: String, nProbe: Int): DataFrame = {
    // final ranking against refined centroids: rk=1 is corpus membership,
    // rk<=nProbe are the cells each query searches. Deliberately NOT
    // checkpointed despite the two references: Catalyst's ReuseExchange
    // dedups the expensive subtree (scan + broadcast join + the shuffle
    // under the window), so only the window pass re-executes — measured
    // CHEAPER than materializing a corpus-sized frame to executor
    // storage (s03 1.17 s vs 1.26 s, s05 2.38 s vs 3.06 s solo at
    // sf0.1), and at 100 TB corpus-sized localCheckpoint state is
    // exactly what an index build must not pin in executor memory.
    val finalRanked = ivfRanked(s, dir)
    val cells = finalRanked.filter(col("rk") === 1)
      .select(col("vec_id"), col("v"), col("n2"), col("cid").as("cell"))
    val q = finalRanked.filter(col("rk") <= nProbe && col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("n2").as("qn2"), col("cid").as("qcell"))
    val scored = cells.join(broadcast(q),
        col("cell") === col("qcell") && col("vec_id") =!= col("qid"))
      .withColumn("cosr", cosine(col("qv"), col("v"), col("qn2"), col("n2")))
      .withColumn("cos", rank6(col("cosr")))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("qid"), col("rk"), col("vec_id").as("neighbor"),
        sim4(col("cosr")).as("sim"))
      .orderBy(col("qid"), col("rk"))
  }

  /** s05: IVF-PQ — product quantization inside the IVF cells, the
    * memory-compressed ANN serving shape (Jégou et al. 2011, "Product
    * Quantization for Nearest Neighbor Search"): the 64-dim vector is
    * split into M=4 16-dim subspaces, each with its own K=8-codeword
    * codebook; a vector's index entry is then 4 small codes instead of
    * 64 floats (~64× smaller), and query-time scoring is ASYMMETRIC
    * DISTANCE — the query precomputes its 4×8 partial-distance table
    * once, after which each candidate costs 4 table lookups + 3 adds
    * instead of a 64-dim dot product. Non-residual variant (codebooks
    * trained on raw vectors, not per-cell residuals) — the plan shape is
    * identical and the oracle stays tractable.
    *
    * Reproducibility discipline as s03: codebooks seed from the K lowest
    * vec_ids' subvectors and refine with one Lloyd step whose means are
    * PRE-QUANTIZED integer sums (×2^20), so the trained codebooks are
    * bit-identical under any partitioning; the ADC itself is an exact
    * INTEGER sum (partial distances quantized ×2^20 before summing), so
    * candidate ranking carries no FP-order hazard at all. Codeword ids
    * are densified (row_number over scid per subspace) so codes are
    * stable 0..K-1 positions.
    *
    * At 100 TB: codebooks (M×K×16 doubles) and the per-query pd-tables
    * broadcast; encoding is a narrow scan + broadcast join; the
    * candidate scan touches only the query's IVF cell and reads CODES,
    * not vectors — the point of PQ is that this scan stays in memory at
    * corpus sizes where raw vectors cannot. Exact re-rank touches
    * ADC-top-20 only.
    */
  val s05_knn_ivfpq: Q = (s, dir) => {
    val M = 4; val K = 8; val subDim = 16
    val e = embs(s, dir)
    def subsOf(v: Column): Column =
      array((0 until M).map(m => slice(v, m * subDim + 1, subDim)): _*)
    val subs = e.select(col("vec_id"), posexplode(subsOf(col("v"))).as(Seq("m", "sv")))
    // per-subspace seed codewords: the K lowest vec_ids' subvectors
    val seedSub = e.orderBy(col("vec_id")).limit(K)
      .select(col("vec_id").as("scid"), posexplode(subsOf(col("v"))).as(Seq("m", "scv")))
    def subD2(a: Column, b: Column): Column =
      dot(a, a) + dot(b, b) - lit(2.0) * dot(a, b)
    // one Lloyd step per subspace: assign to nearest seed...
    val w0 = Window.partitionBy(col("vec_id"), col("m"))
      .orderBy(subD2(col("sv"), col("scv")), col("scid"))
    val assigned0 = subs.join(broadcast(seedSub), Seq("m"))
      .withColumn("rk", row_number().over(w0)).filter(col("rk") === 1)
    // ...then integer-quantized per-(subspace, codeword, dim) means
    // M·K-row codebook whose SUBTREE is a full corpus pass (subs × seeds
    // assignment + quantized Lloyd step): referenced twice below (encode
    // + the per-query pd tables), so un-staged it was re-planned and
    // re-executed per consumer — the r19 IVF-centroid staging decision
    // (k-row tables stage, corpus-sized frames don't), applied to the PQ
    // codebook it missed. Plan: 230 -> ~150 nodes, 46 -> ~30 Exchanges.
    val cb = graft.Checkpoints.stage(assigned0
      .select(col("m"), col("scid"), posexplode(col("sv")).as(Seq("dim", "x")))
      .groupBy(col("m"), col("scid"), col("dim"))
      .agg((sum(floor(col("x") * 1048576.0 + 0.5).cast("long")).cast("double")
        / count(lit(1)) / 1048576.0).as("mu"))
      .groupBy(col("m"), col("scid"))
      .agg(array_sort(collect_list(struct(col("dim"), col("mu")))).as("pairs"))
      .select(col("m"), col("scid"), expr("transform(pairs, p -> p.mu)").as("cv"))
      .withColumn("cix", row_number().over(
        Window.partitionBy(col("m")).orderBy(col("scid"))) - 1))
    // encode: every subvector to its nearest refined codeword. Arg-min
    // as min(struct(d2, scid, cix)) — the hierAssign discipline — NOT a
    // rank-1 window: the window exchanged + sorted all N·K joined rows
    // by (vec_id, m); the aggregate collapses them map-side (the K
    // candidate rows of a group are adjacent, produced by one broadcast
    // join fan-out) and shuffles one small struct per (vec_id, m). The
    // r19 arg-min A/B failed because its struct carried the 16-dim
    // subvector; this one carries (double, long, int) only — the win the
    // verdict's "different lever" ask was pointing at. Ordering
    // equivalence: lexicographic (d2, scid) is the window's orderBy, and
    // cix is a function of (m, scid), so the selected cix is identical.
    val codes = subs.join(broadcast(cb), Seq("m"))
      .groupBy(col("vec_id"), col("m"))
      .agg(min(struct(subD2(col("sv"), col("cv")).as("d2"),
        col("scid"), col("cix"))).as("mm"))
      .groupBy(col("vec_id"))
      .agg(array_sort(collect_list(struct(col("m"), col("mm.cix").as("cix")))).as("mp"))
      .select(col("vec_id"), expr("transform(mp, p -> p.cix)").as("codes"))
    // IVF side: cell membership for the corpus, own cell per query —
    // shared subtree deduped by ReuseExchange, not a checkpoint (see
    // ivfKnn: materializing the corpus-sized frame measured slower and
    // pins corpus state in executor storage at scale)
    val ranked = ivfRanked(s, dir).filter(col("rk") === 1)
    val cells = ranked
      .select(col("vec_id"), col("v"), col("n2"), col("cid").as("cell"))
    val q = ranked.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("n2").as("qn2"), col("cid").as("qcell"))
    // per-query partial-distance table KEYED by idx = m*K + cix, value
    // quantized to an exact integer so the 4-term ADC sum is associative.
    // A map, not a positional array: cix is densified over SURVIVING
    // codewords per subspace, so if any seed wins zero subvectors (e.g.
    // duplicate subvector slices losing every scid tie) a subspace holds
    // K' < K entries and positional striding by K reads the wrong
    // subspace's partials — silent wrong neighbors. The oracle's ADC
    // joins on idx (already keyed); the map makes the engine keyed too.
    val qsub = q.select(col("qid"), posexplode(subsOf(col("qv"))).as(Seq("m", "qsv")))
    val pd = qsub.join(broadcast(cb), Seq("m"))
      .select(col("qid"), (col("m") * K + col("cix")).as("idx"),
        floor(subD2(col("qsv"), col("cv")) * 1048576.0 + 0.5).cast("long").as("pdq"))
      .groupBy(col("qid"))
      .agg(map_from_entries(collect_list(struct(col("idx"), col("pdq")))).as("pdm"))
    // ADC scan of the query's cell over CODES: 4 lookups + 3 integer adds
    val adc = (0 until M).map(m =>
      element_at(col("pdm"), lit(m * K) + element_at(col("codes"), m + 1)))
      .reduce(_ + _)
    val scored = cells.join(codes, Seq("vec_id"))
      .join(broadcast(q.join(pd, Seq("qid"))),
        col("cell") === col("qcell") && col("vec_id") =!= col("qid"))
      .withColumn("adist", adc)
    val wCand = Window.partitionBy(col("qid")).orderBy(col("adist"), col("vec_id"))
    val wFinal = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("crk", row_number().over(wCand)).filter(col("crk") <= 20)
      .withColumn("cosr", cosine(col("qv"), col("v"), col("qn2"), col("n2")))
      .withColumn("cos", rank6(col("cosr")))
      .withColumn("rk", row_number().over(wFinal)).filter(col("rk") <= 5)
      .select(col("qid"), col("rk"), col("vec_id").as("neighbor"),
        sim4(col("cosr")).as("sim"))
      .orderBy(col("qid"), col("rk"))
  }

  /** e01: symmetric int8 quantization + norm stats per vector — the
    * compression step an embedding store runs before ANN serving
    * (scale = max|v|/127; q_i = half-up(v_i/scale)). Output is the audit
    * row: dim, L2 norm, scale, and the quantized component sum (a cheap
    * whole-vector integrity check — any decode drift changes it).
    * Pure narrow projection: array HOFs per row, zero shuffles; the L2
    * comes from the codegen'd `graft_dot`. Quantized values are exact
    * small integers in double, so the sum is partitioning- and
    * engine-invariant (no FP-order hazard).
    */
  val e01_embedding_quantize: Q = (s, dir) => {
    embs(s, dir)
      .withColumn("scale0", array_max(transform(col("v"), x => abs(x))) / 127.0)
      .select(col("vec_id"), size(col("v")).as("dim"),
        (floor(sqrt(col("n2")) * 1e4 + 0.5) / 1e4).as("l2"),
        (floor(col("scale0") * 1e4 + 0.5) / 1e4).as("scale"),
        when(col("scale0") === 0.0, lit(0L)).otherwise(
          aggregate(col("v"), lit(0.0),
            (acc, x) => acc + floor(x / col("scale0") + 0.5)).cast("long")).as("q_sum"))
      .orderBy(col("vec_id"))
  }

  /** e02: label-centroid cosine similarity matrix — "how confusable are
    * my classes in embedding space", the audit an embedding-quality
    * pipeline runs per training snapshot.
    *
    * Exactness trick: per-dim values are quantized to integers (×2^10,
    * half-up) and only SUMMED per (label, dim) — and since
    * cos(Σv/n_a, Σw/n_b) = cos(Σv, Σw) (the counts cancel in the ratio),
    * the centroid cosine is computed entirely from exact integer sum
    * vectors. No double ever enters a multi-row aggregation, so the
    * result is partitioning-invariant and engine-exact (the FP-order
    * hazard that makes naive centroid averages unreproducible at scale).
    * Magnitude audit: |qx| ≤ 2^10 (unit-norm in), per-dim sums ≤ n·2^10 —
    * exact in BIGINT to astronomical n — but the SQUARED terms reach
    * n²·2^20 (·64 dims for n2), which overflows int64 past n ≈ 370k rows
    * per label: under the 100 TB bar, so the squared/product sums run in
    * decimal(38,0) (the connectedComponents label-sum discipline; DuckDB
    * mirrors with HUGEINT), good to n ≈ 10^14 per label. The terminal
    * ratio is scalar double math — deterministic, no accumulation.
    *
    * Plan shape: one explode + one (label, dim)-keyed partial+final
    * aggregate collapses the corpus to labels×64 rows; everything
    * pairwise after that is label-cardinality-sized.
    */
  val e02_centroid_sim: Q = (s, dir) => {
    val dims = Tables.embeddings(s, dir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("d", "x")))
      .select(col("label"), col("d"),
        floor(col("x").cast("double") * 1024.0 + 0.5).cast("long").as("qx"))
    val cent = dims.groupBy(col("label"), col("d")).agg(sum(col("qx")).as("sx"))
    def sq(x: Column, y: Column): Column =
      (x.cast("decimal(19,0)") * y.cast("decimal(19,0)")).cast("decimal(38,0)")
    val norms = cent.groupBy(col("label"))
      .agg(sum(sq(col("sx"), col("sx"))).as("n2"))
    val a = cent.select(col("label").as("label_a"), col("d"), col("sx").as("xa"))
    val b = cent.select(col("label").as("label_b"), col("d"), col("sx").as("xb"))
    a.join(b, Seq("d")).filter(col("label_a") < col("label_b"))
      .groupBy(col("label_a"), col("label_b"))
      .agg(sum(sq(col("xa"), col("xb"))).as("dq"))
      .join(norms.select(col("label").as("label_a"), col("n2").as("na2")), "label_a")
      .join(norms.select(col("label").as("label_b"), col("n2").as("nb2")), "label_b")
      .select(col("label_a"), col("label_b"),
        (floor(col("dq").cast("double")
          / sqrt(col("na2").cast("double") * col("nb2").cast("double")) * 1e4 + 0.5) / 1e4)
          .as("cos"))
      .orderBy(col("label_a"), col("label_b"))
  }

  /** d10: SemDeDup-style SEMANTIC dedup (Abbas et al. 2023, "SemDeDup:
    * Data-efficient learning at web-scale through semantic
    * deduplication"): cluster the embedding corpus with the s03 IVF
    * build, then pairwise-compare ONLY within each cell and drop every
    * vector that has a LOWER-id neighbor at cosine ≥ τ (deterministic
    * keeper policy; τ = d05's 0.4 threshold and rounding convention, so
    * the two entries differ only in BLOCKING — learned clusters here vs
    * d05's random sign-hyperplanes).
    *
    * Scale shape: the pair space is Σ|cell|² (the SemDeDup point — at
    * web scale you cluster precisely so pairwise comparison becomes
    * per-cell-local), the cell table shuffles by cell id only, and the
    * verdict join is key-uniform. Cross-cell duplicates are the
    * documented recall tradeoff, identical in the oracle (same cells,
    * same policy), so the hash check pins the full pipeline: quantizer
    * build + assignment + in-cell pair generation + keeper policy.
    * Output: one row per vector (vec_id, cell, kept) — every vector
    * appears, so the hash covers keep AND drop decisions. */
  val d10_semdedup: Q = (s, dir) => {
    val cells = ivfRanked(s, dir).filter(col("rk") === 1)
      .select(col("vec_id"), col("v"), col("n2"), col("cid").as("cell"))
    val a = cells.select(col("cell"), col("vec_id").as("ia"),
      col("v").as("va"), col("n2").as("na2"))
    val b = cells.select(col("cell").as("cell_b"), col("vec_id").as("ib"),
      col("v").as("vb"), col("n2").as("nb2"))
    val dropped = a.join(b, col("cell") === col("cell_b") && col("ia") < col("ib"))
      .filter(sim4(cosine(col("va"), col("vb"), col("na2"), col("nb2"))) >= 0.4)
      .select(col("ib").as("dropped_id")).distinct()
    cells.select(col("vec_id"), col("cell"))
      .join(dropped, col("vec_id") === col("dropped_id"), "left")
      .select(col("vec_id"), col("cell"),
        when(col("dropped_id").isNull, lit(1)).otherwise(lit(0)).as("kept"))
      .orderBy(col("vec_id"))
  }

  /** s06: kNN-GRAPH self-join — every vector gets its top-3 neighbors,
    * vs s01/s02's fixed handful of query points. This is the batch kNN
    * join a dataset-map / SemDeDup-style pipeline runs over the WHOLE
    * corpus, so there is no broadcastable query side: both inputs of the
    * candidate join are the corpus itself, blocked on the 8-bit sign-LSH
    * cell so the pair space is Σ|cell|² instead of N² and the shuffle is
    * a key-uniform hash exchange on the cell id for both sides. Ranking
    * is a window per query id (N partitions, never one); the same
    * round-then-tiebreak discipline as s01 keeps the order FP-noise-proof
    * so the DuckDB oracle hash-matches.
    */
  val s06_knn_join: Q = (s, dir) => knnJoin(s, dir)

  /** s06b: the same kNN-graph at a WIDER bucket (12 bits → 4096 cells).
    * The bucket width IS the scale knob: SOAK_r09b measured the 8-bit
    * graph superlinear (wall exponent ~1.8 on 10× vectors) because with
    * the cell count FIXED the candidate space Σ|cell|² grows as N²/cells —
    * the same arithmetic that motivated d13's cap. Holding E[cell] constant
    * (bits ≈ log2(N / target_cell_size)) restores linear growth with the
    * identical plan shape; recall lost to the finer cells is recovered by
    * multi-probing neighbor cells (s04's pattern), not by re-widening.
    */
  val s06b_knn_join_wide: Q = (s, dir) => knnJoin(s, dir, bits = 12)

  /** s06c: kNN-graph blocked on IVF CELLS instead of sign-LSH buckets —
    * the data-ADAPTIVE variant, and the production pick for clustered
    * corpora. SOAK_r09b's adjudication of s06/s06b: on clustered data,
    * extra hyperplane bits only split cells where signs actually vary, so
    * even the log₂(N) width rule leaves residual superlinearity (measured
    * exponents 1.8 fixed-8 → 1.3-1.4 at 12/scaled bits). IVF centroids
    * place themselves where the data is — balanced cells by construction —
    * and the centroid count is the scale knob ([[ivfRanked]]'s `k`,
    * cells ≈ N / target_cell_size keeps Σ|cell|² linear). Same build as
    * s03/d10 (oracle replicates it in SQL), same output shape and ranking
    * discipline as s06.
    */
  val s06c_knn_ivf_graph: Q = (s, dir) => ivfKnnGraph(s, dir)

  /** s06c body, caller-sized cell count (probe + deployment seam).
    * `sim` floor-rounds the RAW cosine (bit-identical in both engines)
    * instead of re-rounding the round-6 ranking value: an IVF cell pair
    * here landed exactly on a .xxxx5 double-rounding boundary where
    * Spark's and DuckDB's round() disagree — rounding once from the raw
    * double sidesteps the boundary entirely. */
  def ivfKnnGraph(s: SparkSession, dir: String, cells: Int = 16, k: Int = 3): DataFrame =
    knnWithinCells(ivfRanked(s, dir, cells).filter(col("rk") === 1)
      .select(col("cid").as("cell"), col("vec_id"), col("v"), col("n2")), k)

  /** The shared s06c/s06d kNN tail: within-cell candidate join + per-query
    * ranking window over (cell, vec_id, v, n2) memberships. */
  private def knnWithinCells(mem: DataFrame, k: Int): DataFrame = {
    // both sides of the candidate self-join reference the membership
    // build; ReuseExchange dedups the shared subtree (a corpus-sized
    // checkpoint here measured slower — see ivfKnn)
    val q = mem.select(col("cell").as("qcell"), col("vec_id").as("qid"),
      col("v").as("qv"), col("n2").as("qn2"))
    val scored = mem.join(q,
        col("cell") === col("qcell") && col("vec_id") =!= col("qid"))
      .withColumn("cosr", cosine(col("qv"), col("v"), col("qn2"), col("n2")))
      .withColumn("cos", rank6(col("cosr")))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      // sim4: the ONE display-quantization convention (was an inline
      // byte-identical copy a future rounding migration could miss)
      .select(col("qid"), col("rk"), col("vec_id").as("neighbor"),
        sim4(col("cosr")).as("sim"))
      .orderBy(col("qid"), col("rk"))
  }

  /** s06d: s06c with TWO-LEVEL (hierarchical) centroid assignment — the
    * fix for the N² the SOAK_r09d prescription named: at the deployment
    * rule cells ∝ N, FLAT nearest-centroid assignment costs N·cells ∝ N²
    * distance evaluations (it was the assignment, not the candidate join,
    * that kept s06c_scaled superlinear). Here ⌈√cells⌉ of the centroids
    * double as COARSE anchors: each point ranks the anchors (N·√cells),
    * then ranks only the fine centroids assigned to its anchor
    * (N·E[cells/√cells] = N·√cells) — total N·√cells, i.e. N^1.5 at
    * cells ∝ N instead of N², and O(N) at the equally-valid rule
    * cells ∝ √N. Assignment is HIERARCHICAL-approximate (a point whose
    * true nearest fine centroid lives under a different anchor lands in
    * a neighboring cell — the standard IVF-HNSW/two-level-IVF trade),
    * so s06d is its own operator with its own oracle replicating the
    * two-level choice exactly; graph quality is the s04 multi-probe
    * story, not re-flattening.
    *
    * Plan shape: three broadcast joins (anchors, anchors, grouped fine
    * centroids — all tiny) + three vec_id-keyed arg-min HASH AGGREGATES
    * (min over (d2, cid) structs ≡ the rank-1 window row, but partial-
    * aggregatable and sort-free), then the same within-cell kNN tail as
    * s06c. No window touches an N·cells row set anywhere.
    */
  val s06d_knn_ivf_hier: Q = (s, dir) => ivfKnnGraphHier(s, dir)

  /** s06d body, caller-sized (probe + deployment seam). */
  def ivfKnnGraphHier(s: SparkSession, dir: String, cells: Int = 16, k: Int = 3): DataFrame = {
    val nCoarse = math.ceil(math.sqrt(cells.toDouble)).toInt
    val e = embs(s, dir)
    val seeds = e.orderBy(col("vec_id")).limit(cells)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    // staged for the same reason as ivfRanked's refined table: 16 rows
    // whose subtree is a full corpus assignment + Lloyd step, otherwise
    // embedded (and re-broadcast) inside the second assignment's plan
    val refined = graft.Checkpoints.stage(
      lloydRefine(hierAssign(e, seeds, nCoarse).select(col("cid"), col("v"))))
    knnWithinCells(hierAssign(e, refined, nCoarse)
      .select(col("cid").as("cell"), col("vec_id"), col("v"), col("n2")), k)
  }

  /** s07: RECALL AUDIT of the hierarchical kNN graph — what fraction of
    * the true (brute-force) top-3 neighbor edges does s06d's two-level
    * blocking keep? The d08/e03 discipline applied to the one r10
    * operator that is hierarchical-APPROXIMATE by construction: a point
    * routed through the wrong anchor lands in a neighboring cell and its
    * true neighbors fall outside the candidate join. The number every
    * deployment needs before trading flat assignment's N·cells for
    * N·√cells. Exact integer counts; one IEEE division at the end.
    *
    * At 100 TB the truth side runs on a query SAMPLE — `queryMod` is
    * that knob (audit every vec_id ≡ 0 mod m), making the brute-force
    * side O(N·N/m) with the recall estimate unbiased over the sampled
    * queries. The gate default m=1 (every query) IS the sample at this
    * corpus scale; s07c is the sampled form the deployment runs.
    */
  val s07_hier_knn_recall: Q = (s, dir) =>
    knnGraphRecall(s, dir, ivfKnnGraphHier(s, dir))

  /** s07b: the SAME audit against s06c's FLAT-assignment graph — the
    * pair (s07, s07b) separates the two losses: s07b measures what
    * cell-blocking alone costs vs brute force; s07 − s07b is the
    * marginal routing error the two-level hierarchy adds. The knob
    * decision at scale is exactly this pair of numbers against the
    * SOAK_r10b wall-time pair.
    */
  val s07b_flat_knn_recall: Q = (s, dir) =>
    knnGraphRecall(s, dir, ivfKnnGraph(s, dir))

  /** s07c: the SAMPLED audit — s07's recall estimated from the 1-in-5
    * query sample (vec_id ≡ 0 mod 5), the form a 100 TB deployment
    * actually runs: the graph build is unchanged, the brute-force truth
    * side shrinks from N·N to N·N/5, and the sample recall estimates
    * s07's within sampling error. Its own oracle replicates the sample
    * predicate exactly, so the estimate itself is hash-gated.
    */
  val s07c_hier_knn_recall_sampled: Q = (s, dir) =>
    knnGraphRecall(s, dir, ivfKnnGraphHier(s, dir), queryMod = 5L)

  /** Recall audit body. `queryMod` samples the QUERY side — truth ranks
    * and graph edges are audited only for vec_id ≡ 0 mod `queryMod`;
    * the candidate/neighbor side is always the full corpus, so sampling
    * changes which queries are audited, never any query's truth. */
  def knnGraphRecall(s: SparkSession, dir: String,
      graph: DataFrame, queryMod: Long = 1L): DataFrame = {
    require(queryMod >= 1, s"queryMod must be >= 1, got $queryMod") // 0 would NULL-filter everything into a false recall-0 row
    val e = embs(s, dir)
    // truth: unblocked top-3 over the sampled query side (s01's ranking
    // discipline; m=1 → corpus-wide)
    val q = e.filter(pmod(col("vec_id"), lit(queryMod)) === 0)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("n2").as("qn2"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    // pre-amplification spread (the shingles/simhashes move): the corpus
    // is one compact parquet file (1-2 scan tasks), and the broadcast
    // nested-loop truth join amplifies each corpus row ×|q| before the
    // WindowGroupLimit can cut it — without the spread the whole
    // N·N/m dot-product pass and its partial top-k sort run on one core
    // (measured: s07 6.5s → ~1.3s solo at 32 cores). Hash on vec_id is
    // deterministic under retry; result order is rank6-exact either way.
    val eSpread = e.repartition(s.sparkContext.defaultParallelism, col("vec_id"))
    val truthPlan = eSpread.join(broadcast(q), col("vec_id") =!= col("qid"))
      .withColumn("cosr", cosine(col("qv"), col("v"), col("qn2"), col("n2")))
      .withColumn("cos", rank6(col("cosr")))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 3)
      .select(col("qid"), col("vec_id").as("neighbor"))
    // both cuts are referenced twice below (count + semi-join) and are
    // INDEPENDENT jobs — materialize them concurrently (guide §2.6) so
    // the graph build backfills the truth pass's tail
    val (truth, approx) = graft.Par.both(
      truthPlan.localCheckpoint(),
      graph.select(col("qid"), col("neighbor"))
        .filter(pmod(col("qid"), lit(queryMod)) === 0).localCheckpoint())
    val hit = truth.join(approx, Seq("qid", "neighbor"), "left_semi")
    // one audit row out: seal + release both cuts (CacheOps.sealAndRelease
    // — the d08 ballast lesson applied to the recall audits)
    graft.CacheOps.sealAndRelease(
      truth.agg(count(lit(1)).as("n_true"))
        .crossJoin(approx.agg(count(lit(1)).as("n_approx")))
        .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
        .select(col("n_true"), col("n_approx"), col("n_hit"),
          when(col("n_true") === 0, lit(0.0)).otherwise(
            floor(col("n_hit") / col("n_true") * 10000 + 0.5) / 10000).as("recall")),
      truth, approx)
  }

  /** Two-level nearest-centroid assignment of (vec_id, v, n2) points to
    * (cid, cv) centroids; coarse layer = the nCoarse lowest-cid
    * centroids. Arg-min via min(struct(d2, cid, …)) — lexicographic
    * struct ordering reproduces the (d2, cid) rank-1 tiebreak as a
    * partial-aggregatable hash agg. Returns (vec_id, v, n2, cid). */
  private def hierAssign(points: DataFrame, cents: DataFrame, nCoarse: Int): DataFrame = {
    // an2/cn2 once per anchor/centroid on the broadcast side, not per
    // (point, centroid) row — same doubles, bit-identical d2 (ivfRanked's
    // move, in the N·√cells hot loop)
    val anchors = cents.orderBy(col("cid")).limit(nCoarse)
      .select(col("cid").as("acid"), col("cv").as("acv"))
      .withColumn("an2", dot(col("acv"), col("acv")))
    // fine → coarse: every centroid under its nearest anchor (cells·√cells)
    val c2a = cents.join(broadcast(anchors))
      .withColumn("ad2", dot(col("cv"), col("cv")) + col("an2")
        - lit(2.0) * dot(col("cv"), col("acv")))
      .groupBy(col("cid"))
      .agg(min(struct(col("ad2"), col("acid"), col("cv"))).as("m"))
      .select(col("m.acid").as("acid"), col("cid"), col("m.cv").as("cv"))
      .withColumn("cn2", dot(col("cv"), col("cv")))
    // point → coarse (N·√cells)
    val p2a = points.join(broadcast(anchors))
      .withColumn("ad2", col("n2") + col("an2")
        - lit(2.0) * dot(col("v"), col("acv")))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("ad2"), col("acid"), col("v"), col("n2"))).as("m"))
      .select(col("vec_id"), col("m.v").as("v"), col("m.n2").as("n2"),
        col("m.acid").as("acid"))
    // point → fine within its coarse group (N·E[cells/√cells])
    p2a.join(broadcast(c2a), Seq("acid"))
      .withColumn("d2", col("n2") + col("cn2")
        - lit(2.0) * dot(col("v"), col("cv")))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("d2"), col("cid"), col("v"), col("n2"))).as("m"))
      .select(col("vec_id"), col("m.v").as("v"), col("m.n2").as("n2"),
        col("m.cid").as("cid"))
  }

  /** s06 body, caller-sized bucket width (the parameter is the API for
    * the corpus-size-dependent cell count — same move as q36's estKeys
    * and d12's posting cap). */
  def knnJoin(s: SparkSession, dir: String, bits: Int = 8, k: Int = 3): DataFrame = {
    val e = embs(s, dir).withColumn("bucket", signBucket(col("v"), bits))
    val nb = e.select(col("bucket"), col("vec_id"), col("v"), col("n2"))
    val q = e.select(col("bucket").as("qbucket"), col("vec_id").as("qid"),
      col("v").as("qv"), col("n2").as("qn2"))
    val scored = nb.join(q,
        col("bucket") === col("qbucket") && col("vec_id") =!= col("qid"))
      .withColumn("cosr", cosine(col("qv"), col("v"), col("qn2"), col("n2")))
      .withColumn("cos", rank6(col("cosr")))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("qid"), col("rk"), col("vec_id").as("neighbor"),
        sim4(col("cosr")).as("sim"))
      .orderBy(col("qid"), col("rk"))
  }

  /** g01: triangle census on the kNN graph — the graph-analytics tier
    * over the dataset map s06 builds. Undirected distinct edges come from
    * the top-3 neighbor lists; triangles are counted once each via
    * DEGREE ORIENTATION: every edge points from its (degree, id)-smaller
    * endpoint to the larger, wedges enumerate ordered out-neighbor pairs,
    * and a closing-edge semi-join confirms the third side. Output is the
    * one-row census (vertices, edges, wedges, triangles, global
    * clustering coefficient) — the dataset-geometry health check run on
    * an embedding corpus before sampling from its neighborhoods.
    *
    * Scale shape: orientation is THE classic trick that makes distributed
    * triangle counting feasible — a hub of degree d contributes C(d,2)
    * wedges un-oriented, but oriented its out-degree is bounded (every
    * out-neighbor has degree ≥ its own), capping wedge fan-out at
    * O(m^{3/2}) total regardless of skew. Every join is key-uniform:
    * vertex-keyed degree joins, src-keyed wedge self-join, (x,y)-keyed
    * closing semi-join. No broadcast of corpus-sized state anywhere.
    */
  val g01_knn_triangles: Q = (s, dir) =>
    triangleCensus(knnJoin(s, dir)
      .select(col("qid").as("src"), col("neighbor").as("dst")))

  /** The census over ANY directed edge list (src, dst) — exposed so the
    * edge-build blocking knob (knnJoin's `bits`, ivfKnnGraph's `cells`)
    * composes with the graph stage, which is linear in edges on its own:
    * the scale exponent of the whole pipeline is the edge build's. */
  def triangleCensus(rawEdges: DataFrame): DataFrame = {
    // drop self-loops at the seam: a (v, v) edge survives least/greatest
    // + distinct, double-counts in the degree, and pairs with a real
    // out-edge into a wedge whose "closing" edge is that edge itself —
    // one phantom triangle per (loop, incident edge). The kNN edge
    // builds can't emit loops, but this is the public any-edge-list seam.
    // edges is referenced FOUR times below (deg's two union legs, the
    // orientation join, the edge count) and oriented three times (both
    // wedge legs + the closing side): un-staged, each reference re-plans
    // and re-executes the full upstream edge build (the kNN join — 72
    // parquet scans in the before plan, plans/r19/g01_*_before.txt).
    // Stage both (Checkpoints.stage: localCheckpoint locally, reliable
    // checkpoint on opted-in deployments — the PageRank iterate
    // discipline, which already stages edge-sized state at scale).
    // Measured: g01 1.99 -> 0.95s solo.
    val edges = graft.Checkpoints.stage(rawEdges
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct())
    val deg = edges.select(col("a").as("vx")).unionAll(edges.select(col("b").as("vx")))
      .groupBy(col("vx")).agg(count(lit(1)).as("deg"))
    val aFirst = col("da") < col("db") || (col("da") === col("db") && col("a") < col("b"))
    val oriented = graft.Checkpoints.stage(edges
      .join(deg.select(col("vx").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("vx").as("b"), col("deg").as("db")), Seq("b"))
      .select(
        when(aFirst, col("a")).otherwise(col("b")).as("src"),
        when(aFirst, col("b")).otherwise(col("a")).as("dst"),
        when(aFirst, col("db")).otherwise(col("da")).as("ddeg")))
    val e1 = oriented.select(col("src").as("u"), col("dst").as("x"), col("ddeg").as("dx"))
    val e2 = oriented.select(col("src").as("u2"), col("dst").as("y"), col("ddeg").as("dy"))
    val wedges = e1.join(e2, col("u") === col("u2") &&
        (col("dx") < col("dy") || (col("dx") === col("dy") && col("x") < col("y"))))
      .select(col("x"), col("y"))
    val closing = oriented.select(col("src").as("x"), col("dst").as("y"))
    val tri = wedges.join(closing, Seq("x", "y"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    val ne = edges.agg(count(lit(1)).as("n_edges"))
    val stats = deg.agg(count(lit(1)).as("n_vertices"),
      sum((col("deg") * (col("deg") - 1) / 2).cast("long")).as("n_wedges"))
    val census = stats.crossJoin(broadcast(ne)).crossJoin(broadcast(tri))
      .select(col("n_vertices"), col("n_edges"), col("n_wedges"), col("n_triangles"),
        when(col("n_wedges") === 0, lit(0.0))
          .otherwise(floor(lit(3.0) * col("n_triangles") / col("n_wedges") * 1e4 + 0.5) / 1e4)
          .as("gcc"))
      // ONE-ROW result: materialize it eagerly so the edge-corpus-sized
      // edges/oriented checkpoints can be released NOW instead of living
      // as block-manager ballast for the rest of the session (the
      // pagerank ed/base/dang discipline — SOAK_r13/r14b measured 2.9 to
      // 11.3 s session-wide cost of accumulated dead blocks; the r19
      // advisor flagged this entry as the one stager without a release).
      .localCheckpoint()
    graft.CacheOps.unpersistLocalCheckpoint(edges)
    graft.CacheOps.unpersistLocalCheckpoint(oriented)
    census
  }

  /** e03: Matryoshka truncation audit — recall@5 of the first-16-dims
    * cosine ranking against the full 64-dim ranking, per query. THE
    * acceptance gate before deploying truncated (MRL-style) embeddings
    * for cheap pre-ranking: how many of the true top-5 does the 4×
    * cheaper prefix ranking keep?
    *
    * Plan: one corpus scan computes both scores per candidate row (the
    * truncated slice and its norm ride along), so both rank windows and
    * the intersection count come from a single join against the
    * broadcast query set — the intersection needs no self-join because
    * each candidate row carries BOTH its ranks. At 100 TB this runs on a
    * query sample by construction (the audit is per-query, not
    * per-corpus).
    */
  val e03_matryoshka_recall: Q = (s, dir) => {
    // Zero-norm prefix guard: a vector whose first 16 dims are all zero
    // would make the truncated cosine divide by zero — Spark's Divide
    // yields NULL there while DuckDB yields IEEE inf/NaN, so the two rank
    // windows would diverge. Such a vector has no defined truncated
    // ranking anyway; drop it from the audit on BOTH sides (oracle twin
    // carries the same predicate).
    val e = embs(s, dir)
      .withColumn("v16", slice(col("v"), 1, 16))
      .withColumn("n16", dot(col("v16"), col("v16")))
      .filter(col("n16") > 0.0)
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("n2").as("qn2"),
        col("v16").as("qv16"), col("n16").as("qn16"))
    val scored = e.join(broadcast(q), col("vec_id") =!= col("qid"))
      .withColumn("cosf", rank6(cosine(col("qv"), col("v"), col("qn2"), col("n2"))))
      .withColumn("cost", rank6(cosine(col("qv16"), col("v16"), col("qn16"), col("n16"))))
    val wf = Window.partitionBy(col("qid")).orderBy(col("cosf").desc, col("vec_id"))
    val wt = Window.partitionBy(col("qid")).orderBy(col("cost").desc, col("vec_id"))
    scored.withColumn("rkf", row_number().over(wf))
      .withColumn("rkt", row_number().over(wt))
      .groupBy(col("qid"))
      .agg(sum(when(col("rkf") <= 5 && col("rkt") <= 5, 1L).otherwise(0L)).as("n_hit"))
      .withColumn("recall", floor(col("n_hit") / lit(5.0) * 1e4 + 0.5) / 1e4)
      .orderBy(col("qid"))
  }

  /** e04: BINARY-embedding audit — recall@5 of 64-bit SIGN-SIGNATURE
    * hamming ranking against the full-float cosine ranking, per query.
    * The acceptance gate before shipping 1-bit embeddings (64 bits vs
    * 64 floats = 256× smaller index, hamming = xor+popcount): how many
    * of the true top-5 does the binary ranking keep? Completes the
    * quantization ladder e01 (int8) → s05 (PQ) → e03 (truncation) with
    * the cheapest codes of all. Hamming is exact integer math in both
    * engines (bit 63 rides the two's-complement sign bit identically —
    * the d09 convention), so only the e03-style rank windows need the
    * round-6 discipline.
    */
  val e04_signbit_recall: Q = (s, dir) => {
    val e = embs(s, dir).withColumn("sig", signBucket(col("v"), 64))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("n2").as("qn2"),
        col("sig").as("qsig"))
    // pre-amplification spread (the knnGraphRecall move) — the 64-term
    // signature + per-pair dot otherwise run on the single scan task
    val scored = e.repartition(s.sparkContext.defaultParallelism, col("vec_id"))
      .join(broadcast(q), col("vec_id") =!= col("qid"))
      .withColumn("cosf", rank6(cosine(col("qv"), col("v"), col("qn2"), col("n2"))))
      .withColumn("ham", expr("bit_count(sig ^ qsig)"))
    val wf = Window.partitionBy(col("qid")).orderBy(col("cosf").desc, col("vec_id"))
    val wh = Window.partitionBy(col("qid")).orderBy(col("ham").asc, col("vec_id"))
    scored.withColumn("rkf", row_number().over(wf))
      .withColumn("rkh", row_number().over(wh))
      .groupBy(col("qid"))
      .agg(sum(when(col("rkf") <= 5 && col("rkh") <= 5, 1L).otherwise(0L)).as("n_hit"))
      .withColumn("recall", floor(col("n_hit") / lit(5.0) * 1e4 + 0.5) / 1e4)
      .orderBy(col("qid"))
  }

  val all: Map[String, Q] = Map(
    "e03_matryoshka_recall" -> e03_matryoshka_recall,
    "e04_signbit_recall" -> e04_signbit_recall,
    "g01_knn_triangles" -> g01_knn_triangles,
    "s01_knn_brute" -> s01_knn_brute,
    "s06_knn_join" -> s06_knn_join,
    "s06b_knn_join_wide" -> s06b_knn_join_wide,
    "s06c_knn_ivf_graph" -> s06c_knn_ivf_graph,
    "s06d_knn_ivf_hier" -> s06d_knn_ivf_hier,
    "s07_hier_knn_recall" -> s07_hier_knn_recall,
    "s07b_flat_knn_recall" -> s07b_flat_knn_recall,
    "s07c_hier_knn_recall_sampled" -> s07c_hier_knn_recall_sampled,
    "s02_knn_lsh" -> s02_knn_lsh,
    "s03_knn_ivf" -> s03_knn_ivf,
    "s04_knn_ivf_multiprobe" -> s04_knn_ivf_multiprobe,
    "s05_knn_ivfpq" -> s05_knn_ivfpq,
    "d05_embed_neardup" -> d05_embed_neardup,
    "d10_semdedup" -> d10_semdedup,
    "e01_embedding_quantize" -> e01_embedding_quantize,
    "e02_centroid_sim" -> e02_centroid_sim,
  )
}
