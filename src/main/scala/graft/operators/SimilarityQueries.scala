package graft.operators

import graft.core.{Decimals, QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over `embeddings` (Array[Float] column).
  *
  * Dot products run in DOUBLE after an explicit float→double cast on both
  * engines (identical IEEE sequential fold), and scores are emitted as
  * round(CAST(score AS DECIMAL(18,6)), 4) so the hash ignores last-ulp
  * noise. Ranking orders by the ROUNDED score with vec_id tie-break —
  * fully deterministic.
  *
  * Scale posture: the query side is tiny (fixed query ids) and broadcast;
  * the corpus side streams — brute force is one scan + local top-k
  * (window over query_id partitions). The IVF variant prunes the corpus to
  * the nearest centroid's bucket, the standard ANN scale path; centroids
  * are learned per label (k-means-style single assignment step) so the
  * whole thing stays a Spark plan with no driver loops over data.
  */
object SimilarityQueries {
  import Decimals._

  private def embDouble(s: SparkSession, d: String): DataFrame =
    embDoubleOf(Tables(s, d, "embeddings"))

  /** [[embDouble]] WITHOUT the scan-spread rewrite — for the q_c132
    * frontier, whose five-point grid re-derives many small query/truth
    * frames per run and measured slower under the extra per-derivation
    * exchange (OPTIMIZATION_r18.md).
    */
  private def embDoubleRaw(s: SparkSession, d: String): DataFrame =
    embDoubleOf(Tables.raw(s, d, "embeddings"))

  private def embDoubleOf(t: DataFrame): DataFrame =
    t.select(
        col("vec_id"),
        col("label"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v")
      )

  /** Scoring runs through the native codegen'd
    * [[graft.functions.CosineSimilarity]] expression (one fused loop for
    * dot + both norms — no per-element lambda dispatch). Its sequential
    * IEEE accumulation matches DuckDB's `list_dot_product` fold, so the
    * 4-dp-rounded decimal scores stay hash-identical.
    */
  private def cosExpr: String = "CAST(cosine_similarity(v, qv) AS DECIMAL(18,6))"

  /** Hyperplane-LSH candidate blocking + exact cosine verify over a
    * (vec_id, label, v: ARRAY<DOUBLE>) corpus: each vector gets a
    * (bands·rBits)-bit sign-random-projection signature split into `bands`
    * bands of `rBits` bits; only pairs sharing (label, band, key) are
    * scored, and survivors of the exact cosine ≥ tau filter are returned
    * as (vec_a, vec_b, cos_sim rounded to 4 dp). Candidates track true
    * similarity, not corpus size; band keys are high-cardinality →
    * well-spread shuffles; no broadcast of the corpus anywhere.
    * Shared by q_c4 / q_c4b and LshPlantedPairsSpec (which asserts this
    * plan ≡ the naive all-pairs join on non-empty planted pairs).
    */
  private[graft] def lshCosinePairs(
      s: SparkSession,
      e: DataFrame,
      tau: Double,
      bands: Int,
      rBits: Int,
      seed: Long): DataFrame = {
    // the SWAR first-colliding-band test below computes (y − ones) on
    // longs; at rBits ≤ 2 an identical-signature pair at a high band
    // makes y = −2^(band·rBits) with a dense 'ones' pattern, and the
    // subtraction underflows Long.MIN_VALUE (ANSI overflow). rBits ≥ 3
    // keeps |ones| small enough that y − ones cannot underflow for any
    // y ≥ Long.MIN_VALUE + ones (ADVICE round 17).
    require(rBits >= 3, s"lshCosinePairs needs rBits >= 3 (got $rBits): " +
      "the SWAR band filter's subtraction can underflow at narrower slices")
    graft.functions.CosineSimilarity.register(s)
    graft.functions.HyperplaneSignature.register(s)
    graft.functions.Int8Ops.register(s)
    val mask = (1 << rBits) - 1
    // the signature AND the 1-byte/element packed codes ride the band
    // keys (≤ 8 + d bytes per row), so everything after the ONE
    // candidate-generating join is a map-side filter — see below
    val sig = e
      .withColumn("sig", expr(s"hyperplane_sig(v, ${bands * rBits}, ${seed}L)"))
      .withColumn("q8", expr("pack_int8(v)"))
    val bandKeys = sig
      .select(col("vec_id"), col("label"), col("sig"), col("q8"),
        explode(expr(s"sequence(0, ${bands - 1})")).as("band"))
      .withColumn("key", expr(s"shiftright(sig, band * $rBits) & $mask"))
    // CROSS-BAND DEDUP AS A MAP-SIDE FILTER (round 17): the old shape
    // emitted every (pair, band) collision into a global .distinct() —
    // a candidate-count-sized hash aggregate that OOM'd the scale30
    // full-suite session (the un-deduped stream is ~bands× the pair
    // count; on the near-uniform fixture that is O(n²/keys) rows) —
    // then joined the survivors back to the packed codes TWICE. With
    // sig and q8 carried through the band keys, a pair is kept only in
    // its FIRST colliding band — the exact pair set .distinct()
    // produced, with zero aggregation state — and the int8 prefilter
    // runs on the SAME row with zero extra joins. Candidate rows now
    // stream through whole-stage codegen and never buffer anywhere.
    //
    // "First colliding band" as pure integer ops (a HOF lambda here
    // is NOT codegen'd and measured 1.4× SLOWER than the old distinct;
    // this form wins): band fb collides iff the rBits-wide slice fb of
    // x = sigA XOR sigB is zero, so keep iff x has NO zero slice below
    // the current band. Mask the high slices to ones (y = x | ~low),
    // then the SWAR zero-slice existence test — (y − ones) & ~y & highs,
    // with 'ones' the per-slice LSB pattern and 'highs' the per-slice
    // MSB pattern — is nonzero iff some slice of y is zero (the classic
    // zero-byte trick at slice granularity; exact for existence).
    val ones = (0 until 64 / rBits).map(i => 1L << (i * rBits)).reduce(_ | _)
    val highs = ones << (rBits - 1)
    val cand = bandKeys.as("a")
      .join(
        bandKeys.as("b"),
        col("a.label") === col("b.label") && col("a.band") === col("b.band")
          && col("a.key") === col("b.key") && col("a.vec_id") < col("b.vec_id")
      )
      .filter(expr(
        s"""((((a.sig ^ b.sig) | ~(shiftleft(1L, a.band * $rBits) - 1L)) - ${ones}L)
           | & ~((a.sig ^ b.sig) | ~(shiftleft(1L, a.band * $rBits) - 1L))
           | & ${highs}L) = 0L""".stripMargin))
    // INT8 CONSERVATIVE PREFILTER (round 13): sign-LSH banding prunes by
    // STRUCTURE, so on an unstructured corpus (the synthetic embeddings
    // are near-uniform) most same-label pairs collide in some band —
    // measured 1×→3× candidate growth drove q_c29 superlinear — and every
    // candidate used to fetch two full float64 arrays for the exact
    // cosine. Keep only pairs whose QUANTIZED cosine reaches
    // τ − ε − 0.001, where ε = 4√d/254 is a rigorous bound on
    // |cos8 − cos| (per-coordinate dequantization error ≤ mx/254,
    // ‖a‖ ≥ mx, unit-vector perturbation ≤ 2‖Δ‖/‖a‖ per side) and the
    // 0.001 slack covers the final 4-dp rounding (a true cosine of
    // τ − 5e-5 still rounds into the emitted set). The test is
    // CONSERVATIVE — no pair whose rounded true cosine reaches τ can be
    // dropped, so oracle parity is untouched (LshPlantedPairsSpec /
    // q_c4b / SemanticDedupSpec gate it) — while a random candidate's
    // cosine (~N(0, 1/√d), σ ≈ 0.125 at d=64) sits ~6σ below the cut:
    // the expensive float-array fetch now runs only at true near-dup
    // density, even on adversarially unstructured corpora.
    val pre = cand
      .filter(expr(
        s"int8_cos_qq(a.q8, b.q8) >= ${tau}D - 0.001D" +
          " - 4.0D * sqrt(CAST(length(a.q8) AS DOUBLE)) / 254.0D"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
    pre
      .join(e.select(col("vec_id").as("vec_a"), col("v")), Seq("vec_a"))
      .join(e.select(col("vec_id").as("vec_b"), col("v").as("qv")), Seq("vec_b"))
      .withColumn("cos_sim", round(expr(cosExpr), 4))
      .filter(col("cos_sim") >= tau)
      .select(col("vec_a"), col("vec_b"), col("cos_sim"))
  }

  val defs: Seq[QueryDef] = Seq(
    // ---- Q-B7: brute-force cosine top-k ----------------------------------
    QueryDef(
      "q_b7_cosine_topk",
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id % 100 = 0),
             |scored AS (
             |  SELECT q.query_id, e.vec_id,
             |    round(CAST(list_dot_product(e.v, q.qv)
             |      / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv)))
             |      AS DECIMAL(18,6)), 4) AS score
             |  FROM e, q WHERE e.vec_id <> q.query_id),
             |ranked AS (
             |  SELECT query_id, vec_id, score,
             |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
             |      ORDER BY score DESC, vec_id) AS BIGINT) AS rank
             |  FROM scored)
             |SELECT query_id, rank, vec_id, CAST(score AS DOUBLE) AS score
             |FROM ranked WHERE rank <= 10
             |ORDER BY query_id, rank""".stripMargin)
    ) { (s, d) =>
      graft.functions.CosineSimilarity.register(s)
      val e = embDouble(s, d)
      val q = e
        .filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("query_id"), col("v").as("qv"))
      val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("vec_id"))
      e.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("query_id"))
        .withColumn("score", round(expr(cosExpr), 4))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 10)
        .select(col("query_id"), col("rank"), col("vec_id"), emit(col("score")).as("score"))
        .orderBy(col("query_id"), col("rank"))
    },

    // ---- embedding cosine near-dup pairs, blocked by label ---------------
    QueryDef(
      "q_c4_embedding_neardup",
      Some("""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |pairs AS (
             |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             |    round(CAST(list_dot_product(a.v, b.v)
             |      / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
             |      AS DECIMAL(18,6)), 4) AS cos_sim
             |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id)
             |SELECT vec_a, vec_b, CAST(cos_sim AS DOUBLE) AS cos_sim
             |FROM pairs WHERE cos_sim >= 0.90
             |ORDER BY vec_a, vec_b""".stripMargin)
    ) { (s, d) =>
      // Hyperplane-LSH candidate blocking + exact cosine verify (the q_c3
      // AllPairs pattern: approximate blocker, exact verifier, oracle kept
      // as the naive quadratic join). Round-1's label-blocked all-pairs
      // join was quadratic within each label — a scale-killer and the
      // worst bench entry (48 s at sf0.1). b=16 bands of r=4 bits: at
      // τ=0.90 the per-pair miss probability is (1 − p^4)^16 ≤ 4.3e-6
      // (p = 1 − θ/π = 0.856), i.e. lossless in expectation at any
      // realistic pair count — and the shape survives 100 TB.
      // NOTE: this corpus's max same-label cosine is ~0.51, so this query
      // returns 0 rows at every SF; q_c4b (planted copies) and
      // LshPlantedPairsSpec exercise the same lshCosinePairs plan on
      // non-empty output.
      lshCosinePairs(s, embDouble(s, d), tau = 0.90, bands = 16, rBits = 4, seed = 42L)
        .select(col("vec_a"), col("vec_b"), emit(col("cos_sim")).as("cos_sim"))
        .orderBy(col("vec_a"), col("vec_b"))
    },

    // ---- q_c4b: same LSH plan, non-vacuous oracle via planted copies -----
    // q_c4's τ=0.90 can never emit a row on this corpus (max same-label
    // cosine ≈ 0.51), so it proves the LSH blocker only vacuously. Here the
    // corpus is unioned with a deterministically perturbed copy of itself
    // (vec_id + 1000000, x → x + 0.1·x²; pure double arithmetic, identical
    // IEEE sequence on both engines) whose cosine to its original is
    // 0.9996–0.9999 — so exactly one pair per vector passes τ=0.90 and the
    // DuckDB oracle checks the LSH output hash-exactly on non-empty rows.
    // Per-pair miss probability at cos ≈ 0.9996 is (1 − p^4)^16 with
    // p = 1 − θ/π ≈ 0.991 → ~5e-24: structurally zero.
    QueryDef(
      "q_c4b_embedding_neardup_planted",
      Some("""WITH base AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |e AS (
             |  SELECT vec_id, label, v FROM base
             |  UNION ALL
             |  SELECT vec_id + 1000000 AS vec_id, label,
             |    list_transform(v, x -> x + CAST(0.1 AS DOUBLE) * x * x) AS v
             |  FROM base),
             |pairs AS (
             |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             |    round(CAST(list_dot_product(a.v, b.v)
             |      / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
             |      AS DECIMAL(18,6)), 4) AS cos_sim
             |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id)
             |SELECT vec_a, vec_b, CAST(cos_sim AS DOUBLE) AS cos_sim
             |FROM pairs WHERE cos_sim >= 0.90
             |ORDER BY vec_a, vec_b""".stripMargin)
    ) { (s, d) =>
      val base = embDouble(s, d)
      val planted = base.select(
        (col("vec_id") + lit(1000000L)).as("vec_id"),
        col("label"),
        expr("transform(v, x -> x + 0.1D * x * x)").as("v"))
      lshCosinePairs(s, base.unionAll(planted), tau = 0.90, bands = 16, rBits = 4, seed = 42L)
        .select(col("vec_a"), col("vec_b"), emit(col("cos_sim")).as("cos_sim"))
        .orderBy(col("vec_a"), col("vec_b"))
    },

    // ---- q_c29: semantic dedup — cluster-representative retention --------
    // The SemDeDup step (Abbas et al. 2023: embed, group semantically,
    // keep one representative per duplicate group) as the SERVE form of
    // the q_c4 pair machinery: a vector is DROPPED iff some same-label
    // vector with a smaller vec_id sits within cosine ≥ τ of it, and each
    // dropped vector reports its representative = the SMALLEST such id —
    // a deterministic one-pass retention rule (the pair relation defines
    // the result; no iteration, so both engines compute it independently).
    // The corpus is the q_c4b planted union (original + perturbed copy at
    // cos ≈ 0.9996) so the rule fires non-vacuously at every SF: each
    // planted row must collapse onto exactly its original
    // (SemanticDedupSpec asserts that shape end-to-end).
    // Distributed shape: candidates come from the SAME hyperplane-LSH
    // blocker as q_c4 (miss prob ~5e-24 at the planted cosine —
    // structurally lossless); the dominator aggregation shuffles on vec_b
    // (key-partitioned, skew-free: one row per dropped vector); the final
    // left join shuffles on vec_id. Nothing is all-pairs, nothing
    // broadcasts the corpus.
    QueryDef(
      "q_c29_semantic_dedup",
      Some("""WITH base AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |e AS (
             |  SELECT vec_id, label, v FROM base
             |  UNION ALL
             |  SELECT vec_id + 1000000 AS vec_id, label,
             |    list_transform(v, x -> x + CAST(0.1 AS DOUBLE) * x * x) AS v
             |  FROM base),
             |pairs AS (
             |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
             |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
             |  WHERE round(CAST(list_dot_product(a.v, b.v)
             |    / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
             |    AS DECIMAL(18,6)), 4) >= 0.90),
             |dom AS (SELECT vec_b AS vec_id, MIN(vec_a) AS representative FROM pairs GROUP BY 1)
             |SELECT e.vec_id, e.label,
             |  CAST(CASE WHEN d.representative IS NULL THEN 1 ELSE 0 END AS INT) AS kept,
             |  d.representative
             |FROM e LEFT JOIN dom d USING (vec_id)
             |ORDER BY e.vec_id""".stripMargin)
    ) { (s, d) =>
      val base = embDouble(s, d)
      val planted = base.select(
        (col("vec_id") + lit(1000000L)).as("vec_id"),
        col("label"),
        expr("transform(v, x -> x + 0.1D * x * x)").as("v"))
      val e = base.unionAll(planted)
      val dom = lshCosinePairs(s, e, tau = 0.90, bands = 16, rBits = 4, seed = 42L)
        .groupBy(col("vec_b").as("vec_id"))
        .agg(min(col("vec_a")).as("representative"))
      e.select(col("vec_id"), col("label"))
        .join(dom, Seq("vec_id"), "left")
        .select(
          col("vec_id"),
          col("label"),
          when(col("representative").isNull, lit(1)).otherwise(lit(0)).as("kept"),
          col("representative"))
        .orderBy(col("vec_id"))
    },

    // ---- IVF ANN: Lloyd-trained coarse quantizer + nprobe search ----------
    // Real IVF at the right plan shape (round-2 rewrite of the crossJoin+
    // window assignment the round-1 verdict flagged as an 8× shuffle):
    //  - k = 4·√n cells, centroids learned by 2 spherical-k-means (Lloyd)
    //    iterations — each iteration is ONE distributed aggregation
    //    (assign via projection, posexplode by dim, groupBy(cell, dim));
    //    only k·dim partial sums ever reach the driver (model parameters,
    //    not data).
    //  - assignment/probing is the codegen'd [[graft.functions.NearestCells]]
    //    PROJECTION over the in-expression centroid matrix — zero shuffle,
    //    zero crossJoin, zero window.
    //  - each query probes its nprobe = k/2 nearest cells ⇒ ~50% of the
    //    corpus scanned; SimilarityRecallSpec asserts recall@5 ≥ 0.9 at
    //    that fraction (measured 1.0 at sf0.001, 0.95 at sf0.1). The
    //    synthetic near-uniform embeddings cluster weakly, so recall here
    //    is bought with nprobe (round-9 sweep: 25% → 0.83, 33% → 0.88,
    //    50% → 0.95 recall, Lloyd iterations beyond 2 flat). That the
    //    IDENTICAL plan prunes structurally when the data clusters is
    //    proven in-repo (round 10): on the deterministic planted-cluster
    //    corpus ([[clusteredCorpus]]) recall@5 = 1.0 at nprobe = √k with
    //    a MEASURED scanned fraction of ~13 % (SimilarityRecallSpec +
    //    the bench quality block, which records recall AND scanned
    //    fraction for both fixtures).
    // Approximate by construction ⇒ rows-only driver check.
    QueryDef("q_c9_ann_ivf", None) { (s, d) =>
      graft.functions.CosineSimilarity.register(s)
      // training + search drive ~6 actions over the corpus (count, seed
      // collect, 2 Lloyd aggs, assign, probe); persist the casted frame so
      // the parquet scan + float->double transform run once. Registered
      // with CachedRdds -> released after the query materializes.
      val e = graft.core.CachedRdds.registerDf(
        embDouble(s, d).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val (fnFinal, nprobe) = trainIvf(s, e)
      ivfSearch(e, fnFinal, nprobe)
    },

    // ---- q_c71: incremental int8-IVF append under the FROZEN quantizer ----
    // The third stored index gains the lifecycle step q_c68/q_c70 gave the
    // other two — with the honest difference the ANN literature forces:
    // appends are indexed under the base index's FROZEN coarse quantizer
    // (no retrain — retraining would re-code the whole corpus, the thing
    // incremental maintenance exists to avoid), so append ≡ rebuild holds
    // EXACTLY only relative to that frozen model (assignment and int8
    // packing are per-vector, no cross-vector state — Int8AppendSpec pins
    // the frame equality). The price of freezing is drift: a batch whose
    // cell-assignment distribution diverges from the base degrades probe
    // locality, which is q_c72's monitor. Batch-side-only computation:
    // the base corpus floats are never re-read — stage 1 scans the stored
    // codes ∪ the batch's freshly-coded rows.
    QueryDef("q_c71_ivf_append", None) { (s, d) =>
      val path = int8BaseIndex(s, d)
      val (fn, nprobe, _) = frozenQuantizer(s, path)
      graft.functions.CosineSimilarity.register(s)
      graft.functions.Int8Ops.register(s)
      val e = graft.core.CachedRdds.registerDf(
        embDouble(s, d).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val batchCodes = e.filter(col("vec_id") % 10 === 3)
        .withColumn("cell", expr(s"element_at($fn(v, 1), 1)"))
        .select(col("vec_id"), col("cell"), expr("pack_int8(v)").as("q8"))
      ivfSearchCodes(
        s, s.read.parquet(s"$path/codes").unionByName(batchCodes), e, fn, nprobe)
    },

    // ---- q_c72: cell-assignment drift monitor (rebuild-on-threshold) ------
    // The decision rule the frozen-quantizer lifecycle needs: KL(batch
    // cell histogram ‖ base cell histogram) over the FROZEN quantizer's
    // cells, Laplace-smoothed so a cell unseen on either side stays
    // finite. The base histogram comes from the stored codes table's
    // `cell` column alone (column-pruned scan — the floats are never
    // touched); the batch histogram is one tiny aggregation of the
    // batch's assignments. Output: per-cell contributions plus the
    // corpus-level verdict. The decision rule must be SAMPLE-SIZE AWARE:
    // an in-distribution batch of n vectors over k cells shows
    // KL ≈ (k−1)/(2n) of pure sampling noise (0.33 nats at the sf0.001
    // fixture — a fixed nat threshold false-alarms on every small
    // batch), so the monitor uses the classical G-test null
    // 2·n·KL ~ χ²(k−1) and flags rebuild only when the statistic
    // exceeds the null mean by 4σ: drift_stat > (k−1) + 4·√(2(k−1)).
    // At production batch sizes the null shrinks toward zero and any
    // real shift trips the gate — the rule is scale-correct, not tuned.
    // Cells are learned driver-side state ⇒ rows-only driver check (the
    // q_c9 class); Int8AppendSpec pins the discriminating behavior
    // (in-distribution batch → no rebuild, shifted batch → rebuild).
    QueryDef("q_c72_ivf_drift", None) { (s, d) =>
      val path = int8BaseIndex(s, d)
      val (fn, _, k) = frozenQuantizer(s, path)
      val batchCells = embDouble(s, d).filter(col("vec_id") % 10 === 3)
        .select(expr(s"element_at($fn(v, 1), 1)").as("cell"))
      ivfDrift(s, s"$path/codes", batchCells, k)
    },

    // ---- q_c93: per-source embedding-centroid drift matrix ----------------
    // The embedding-space answer to "are my sources the same
    // distribution?": the cosine between per-source centroid vectors,
    // the first-moment drift check run before mixing sources (and the
    // cheap precursor to q_c72's assignment-histogram monitor — no
    // trained quantizer needed). Determinism discipline: float sums are
    // NOT reassociation-safe, so every component quantizes (D18,6) on
    // read and the centroid/norm/dot accumulations are EXACT decimal
    // sums — partition-order-free — with one fixed-order double
    // expression (dot / sqrt(na·nb)) quantized at emit. Degenerate
    // zero-norm centroids emit cosine 0 explicitly (both engines).
    //
    // 100 TB shape: one posexplode scan into a (source, dim)-keyed
    // map-side-combined agg; everything after is |sources|·dim rows —
    // bytes. The (doc → source) side joins on vec_id before the
    // explode, so only (source, i, x) triples ever shuffle.
    QueryDef(
      "q_c93_source_centroid_drift",
      Some("""WITH ee AS (
             |  SELECT d.source, e.vec_id, e.embedding
             |  FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id),
             |ev AS (
             |  SELECT source,
             |         unnest(embedding) AS x,
             |         unnest(range(len(embedding))) AS i
             |  FROM ee),
             |nv AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_vecs
             |       FROM ee WHERE len(embedding) > 0 GROUP BY 1),
             |cen AS (SELECT source, CAST(i AS BIGINT) AS i,
             |         CAST(CAST(CAST(SUM(CAST(CAST(x AS DOUBLE) AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS DOUBLE)
             |           / CAST(COUNT(*) AS DOUBLE) AS DECIMAL(18,6)) AS m
             |        FROM ev GROUP BY 1, 2),
             |nrm AS (SELECT source,
             |         CAST(SUM(CAST(CAST(m AS DOUBLE) * CAST(m AS DOUBLE) AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS nn
             |        FROM cen GROUP BY 1),
             |dt AS (SELECT a.source AS source_a, b.source AS source_b,
             |         CAST(SUM(CAST(CAST(a.m AS DOUBLE) * CAST(b.m AS DOUBLE) AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS dp
             |       FROM cen a JOIN cen b ON a.i = b.i AND a.source < b.source
             |       GROUP BY 1, 2)
             |SELECT dt.source_a, dt.source_b, na.n_vecs AS n_a, nb.n_vecs AS n_b,
             |  CASE WHEN x1.nn > 0 AND x2.nn > 0
             |       THEN CAST(CAST(CAST(dt.dp AS DOUBLE) / sqrt(CAST(x1.nn AS DOUBLE) * CAST(x2.nn AS DOUBLE)) AS DECIMAL(18,6)) AS DOUBLE)
             |       ELSE CAST(0 AS DOUBLE) END AS cosine
             |FROM dt JOIN nrm x1 ON x1.source = dt.source_a
             |        JOIN nrm x2 ON x2.source = dt.source_b
             |        JOIN nv na ON na.source = dt.source_a
             |        JOIN nv nb ON nb.source = dt.source_b
             |ORDER BY dt.source_a, dt.source_b""".stripMargin)
    ) { (s, d) =>
      val (cen, nv) = centroidFrames(sourceEmbeddings(s, d))
      centroidMatrix(cen, nv)
    },

    // ---- q_c98: per-source centroid drift ALARM (monitor → action) --------
    // q_c93 reports the matrix; this closes the loop with the decision the
    // frozen-index / mixture lifecycle needs (the q_c72 shape, first
    // moment): per source, the BASE corpus vs the ARRIVING batch (an
    // 80/20 split on the house LCG hash of vec_id — the q_c37 discipline;
    // raw `vec_id % 10` would confound with any id-blocked source
    // layout, and does on the driver fixtures), centroid cosine between
    // the halves, and an integer verdict. Decision arithmetic is exact: drift_q6 =
    // 10⁶·(1 − cos) on the QUANTIZED decimal cosine (an integer-valued
    // decimal product — no engine rounding anywhere), threshold_q6 =
    // 10000 + 4000000 DIV n_batch — a fixed 0.01 tolerance plus a
    // sampling-noise term: a size-n in-distribution batch's centroid
    // deviates from the population mean by O(1/√n) per component, i.e.
    // O(1/n) in (1 − cos), so the allowance shrinks as batches grow and
    // any real shift trips the gate at production batch sizes — the rule
    // is scale-correct, not tuned (q_c72's argument, first-moment form).
    // Sources appear when both halves contribute ≥ 1 non-empty vector
    // (there is no drift verdict to give against an empty side).
    //
    // 100 TB shape: identical to q_c93 — one scan, (source, i)-keyed
    // map-side-combined aggs; everything past the explode is
    // |sources|·dim rows. The alarm tail ([[centroidAlarm]]) is shared
    // verbatim with the streaming serve ([[graft.streaming.StreamingOps
    // .centroidAlarmServe]]): stored base centroids + streamed running
    // state give a live rebuild monitor with |sources|·dim cells of
    // state, serve ≡ batch by the exact-decimal linearity argument.
    QueryDef(
      "q_c98_drift_alarm",
      Some("""WITH ee AS (
             |  SELECT d.source, e.vec_id, e.embedding,
             |         CASE WHEN ((e.vec_id % 1000000007) * 1103515245 + 12345) % 1000000007 % 10 < 8
             |              THEN 0 ELSE 1 END AS half
             |  FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id),
             |ev AS (
             |  SELECT source, half,
             |         unnest(embedding) AS x,
             |         unnest(range(len(embedding))) AS i
             |  FROM ee),
             |nv AS (SELECT source, half, CAST(COUNT(*) AS BIGINT) AS n_vecs
             |       FROM ee WHERE len(embedding) > 0 GROUP BY 1, 2),
             |cen AS (SELECT source, half, CAST(i AS BIGINT) AS i,
             |         CAST(CAST(CAST(SUM(CAST(CAST(x AS DOUBLE) AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS DOUBLE)
             |           / CAST(COUNT(*) AS DOUBLE) AS DECIMAL(18,6)) AS m
             |        FROM ev GROUP BY 1, 2, 3),
             |nrm AS (SELECT source, half,
             |         CAST(SUM(CAST(CAST(m AS DOUBLE) * CAST(m AS DOUBLE) AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS nn
             |        FROM cen GROUP BY 1, 2),
             |dt AS (SELECT a.source,
             |         CAST(SUM(CAST(CAST(a.m AS DOUBLE) * CAST(b.m AS DOUBLE) AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS dp
             |       FROM cen a JOIN cen b ON a.source = b.source AND a.i = b.i
             |       WHERE a.half = 0 AND b.half = 1
             |       GROUP BY 1),
             |c AS (SELECT dt.source, na.n_vecs AS n_base, nb.n_vecs AS n_batch,
             |        CASE WHEN x1.nn > 0 AND x2.nn > 0
             |             THEN CAST(CAST(dt.dp AS DOUBLE) / sqrt(CAST(x1.nn AS DOUBLE) * CAST(x2.nn AS DOUBLE)) AS DECIMAL(18,6))
             |             ELSE CAST(0 AS DECIMAL(18,6)) END AS cos_dec
             |      FROM dt JOIN nrm x1 ON x1.source = dt.source AND x1.half = 0
             |              JOIN nrm x2 ON x2.source = dt.source AND x2.half = 1
             |              JOIN nv na ON na.source = dt.source AND na.half = 0
             |              JOIN nv nb ON nb.source = dt.source AND nb.half = 1)
             |SELECT source, n_base, n_batch,
             |  CAST(cos_dec AS DOUBLE) AS cosine,
             |  CAST(1000000 - CAST(cos_dec * 1000000 AS BIGINT) AS BIGINT) AS drift_q6,
             |  CAST(10000 + 4000000 // n_batch AS BIGINT) AS threshold_q6,
             |  CASE WHEN 1000000 - CAST(cos_dec * 1000000 AS BIGINT)
             |            > 10000 + 4000000 // n_batch
             |       THEN 'rebuild' ELSE 'ok' END AS verdict
             |FROM c ORDER BY source""".stripMargin)
    ) { (s, d) =>
      val ee = sourceEmbeddings(s, d)
      // the overflow-safe LCG draw the other split queries use
      val draw = ((col("vec_id") % 1000000007L) * 1103515245L + 12345L) % 1000000007L % 10L
      val (cenA, nvA) = centroidFrames(ee.filter(draw < 8))
      val (cenB, nvB) = centroidFrames(ee.filter(draw >= 8))
      centroidAlarm(cenA, nvA, cenB, nvB).orderBy(col("source"))
    },

    // ---- q_c112: per-label embedding-geometry report ----------------------
    // The sanity panel read before ANY vector-index or semantic-dedup
    // decision: per label, vector count, mean L2 norm and its exact
    // quartiles, and the count of degenerate (norm < 0.5) vectors —
    // collapsed or near-zero norms are how broken encoders and padding
    // rows show up, and they poison both cosine thresholds (q_c4/q_c29)
    // and IVF training (q_c9). Norms fold in DOUBLE then quantize to 4
    // decimals (the q_b7 float discipline — the round absorbs fold-order
    // ulp), land in exact integer tenth-millis, and the percentile rails
    // are q_b8's integer-input interpolation.
    //
    // 100 TB shape: one map-side projection per vector (the HOF fold is
    // codegen'd, no Generate), one |labels|-keyed agg with map-side
    // combine. Cost = a scan of the embedding column.
    QueryDef(
      "q_c112_embedding_norms",
      Some("""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |n AS (SELECT label,
             |        CAST(round(CAST(sqrt(list_dot_product(v, v)) AS DECIMAL(18,6)), 4) * 10000 AS BIGINT) AS nq
             |      FROM e)
             |SELECT CAST(label AS BIGINT) AS label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
             |  CAST(CAST(CAST(SUM(nq) AS DECIMAL(18,6)) / CAST(COUNT(*) * 10000 AS DECIMAL(18,6)) AS DECIMAL(38,6)) AS DOUBLE) AS mean_norm,
             |  CAST(CAST(quantile_cont(nq, 0.25) / 10000 AS DECIMAL(18,6)) AS DOUBLE) AS p25,
             |  CAST(CAST(quantile_cont(nq, 0.50) / 10000 AS DECIMAL(18,6)) AS DOUBLE) AS p50,
             |  CAST(CAST(quantile_cont(nq, 0.75) / 10000 AS DECIMAL(18,6)) AS DOUBLE) AS p75,
             |  CAST(SUM(CASE WHEN nq < 5000 THEN 1 ELSE 0 END) AS BIGINT) AS n_small
             |FROM n GROUP BY label ORDER BY label""".stripMargin)
    ) { (s, d) =>
      embDouble(s, d)
        .select(col("label").cast("long").as("label"),
          expr("CAST(round(CAST(sqrt(aggregate(v, 0D, (a, x) -> a + x * x)) AS DECIMAL(18,6)), 4) * 10000 AS BIGINT)")
            .as("nq"))
        .groupBy(col("label"))
        .agg(
          count(lit(1)).cast("long").as("n_vecs"),
          expr("CAST(CAST(CAST(SUM(nq) AS DECIMAL(18,6)) / CAST(COUNT(*) * 10000 AS DECIMAL(18,6)) AS DECIMAL(38,6)) AS DOUBLE)")
            .as("mean_norm"),
          expr("CAST(CAST(percentile(nq, 0.25) / 10000 AS DECIMAL(18,6)) AS DOUBLE)").as("p25"),
          expr("CAST(CAST(percentile(nq, 0.50) / 10000 AS DECIMAL(18,6)) AS DOUBLE)").as("p50"),
          expr("CAST(CAST(percentile(nq, 0.75) / 10000 AS DECIMAL(18,6)) AS DOUBLE)").as("p75"),
          sum(when(col("nq") < 5000, 1L).otherwise(0L)).cast("long").as("n_small"))
        .orderBy(col("label"))
    },

    // ---- q_c127: hybrid retrieval — reciprocal-rank fusion ------------------
    // The modern retrieval-serving shape (Cormack, Clarke & Büttcher,
    // SIGIR 2009; the Elasticsearch/Vespa hybrid default): fuse a
    // LEXICAL candidate list (BM25 over the stored postings index —
    // q_c45's scorer, single-copy via [[TextQueries.bm25Scores]]) with a
    // DENSE list (cosine against an exemplar vector, q_b7's kernel) by
    // summing 1/(60 + rank) over the lists an item appears in. Items
    // only one retriever sees still score (the union semantics that
    // make RRF robust to disjoint candidate sets); embedding coverage
    // is PARTIAL at sf0.1 (2 000 vectors over 5 000 docs) — exactly the
    // production case fusion handles. Both lists cap at 100.
    //
    // Id-space convention: the fixture generates embeddings INDEPENDENTLY
    // of documents, so vec_id N is treated as an alias for doc_id N BY
    // CONVENTION (the same doc_id = vec_id join rule as q_c93/q_c98's
    // source join) — the fused list exercises the union semantics, not a
    // semantic doc→vector mapping the synthetic data does not provide.
    //
    // 100 TB shape: each list is a TakeOrdered top-100 (per-partition
    // heaps — no global sort, no corpus-sized window); rank assignment
    // and the fusion join run on the two ≤100-row frames. The BM25 side
    // reads only the query terms' postings (q_c45's pushdown); the
    // dense side is one broadcast-exemplar scan of the embedding column
    // (or an IVF probe at scale — q_c9's escape hatch, same list
    // contract). RRF terms quantize through DECIMAL(18,6) on both
    // engines before the exact-decimal sum — hash-exact.
    QueryDef(
      "q_c127_hybrid_rrf",
      Some(s"""WITH ${TextQueries.duckBm25Cte},
              |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
              |qv AS (SELECT v AS q FROM e WHERE vec_id = 0),
              |ds AS (SELECT vec_id,
              |         round(CAST(list_dot_product(v, q)
              |           / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(q, q)))
              |           AS DECIMAL(18,6)), 4) AS score
              |       FROM e, qv WHERE vec_id <> 0),
              |btop AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS br
              |         FROM (SELECT * FROM bm ORDER BY bm25 DESC, doc_id LIMIT 100)),
              |dtop AS (SELECT vec_id, ROW_NUMBER() OVER (ORDER BY score DESC, vec_id) AS dr
              |         FROM (SELECT * FROM ds ORDER BY score DESC, vec_id LIMIT 100)),
              |f AS (SELECT COALESCE(b.doc_id, d.vec_id) AS id, b.br, d.dr
              |      FROM btop b FULL OUTER JOIN dtop d ON b.doc_id = d.vec_id)
              |SELECT id, CAST(COALESCE(br, 0) AS BIGINT) AS bm25_rank,
              |  CAST(COALESCE(dr, 0) AS BIGINT) AS dense_rank,
              |  CAST(COALESCE(CAST(CAST(1.0 AS DOUBLE) / (60 + br) AS DECIMAL(18,6)), 0)
              |     + COALESCE(CAST(CAST(1.0 AS DOUBLE) / (60 + dr) AS DECIMAL(18,6)), 0) AS DOUBLE) AS rrf
              |FROM f ORDER BY rrf DESC, id LIMIT 20""".stripMargin)
    ) { (s, d) =>
      graft.functions.CosineSimilarity.register(s)
      val path = TextQueries.postingsIndex(s, d)
      val wb = Window.orderBy(col("bm25").desc, col("doc_id"))
      val btop = TextQueries.bm25Scores(
          s.read.parquet(s"$path/postings"), s.read.parquet(s"$path/stats"),
          Seq("hash", "join", "filter"))
        .orderBy(col("bm25").desc, col("doc_id")).limit(100)
        .withColumn("br", row_number().over(wb).cast("long"))
        .select(col("doc_id").as("id"), col("br"))
      val e = embDouble(s, d)
      val qv = e.filter(col("vec_id") === 0).select(col("v").as("qv"))
      val wd = Window.orderBy(col("score").desc, col("vec_id"))
      val dtop = e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(qv))
        .withColumn("score", round(expr(cosExpr), 4))
        .orderBy(col("score").desc, col("vec_id")).limit(100)
        .withColumn("dr", row_number().over(wd).cast("long"))
        .select(col("vec_id").as("id"), col("dr"))
      btop.join(dtop, Seq("id"), "full_outer")
        .select(col("id"),
          coalesce(col("br"), lit(0L)).cast("long").as("bm25_rank"),
          coalesce(col("dr"), lit(0L)).cast("long").as("dense_rank"),
          emit(coalesce(dec(lit(1.0) / (lit(60) + col("br"))), dec(lit(0)))
            + coalesce(dec(lit(1.0) / (lit(60) + col("dr"))), dec(lit(0))))
            .as("rrf"))
        .orderBy(col("rrf").desc, col("id"))
        .limit(20)
    },

    // ---- q_c130: int8-IVF segment compaction --------------------------------
    // The fourth verb for the FOURTH (and last) stored-index family:
    // per-batch code segments — base codes under the Lloyd-trained
    // quantizer, batch codes under the same FROZEN model (q_c71's
    // append discipline) — merge back into ONE cell-range-sorted codes
    // table. Code rows are per-vector (no cross-vector state) and the
    // model (cents + (dim, nprobe, k)) is carried through unchanged, so
    // compact ≡ append EXACTLY: the compacted search is spec-pinned to
    // q_c71's stored-∪-batch search (Int8CompactSpec), and compaction
    // reads ONLY the stored segments — the spec deletes the corpus copy
    // first, the same proof StoredBm25Spec runs for q_c123. What the
    // merge buys at read time is the q_c129 argument: k segment files
    // per probed cell erode row-group locality (each probe touches
    // every segment's cell span); one cell-sorted table restores
    // min/max pruning to a contiguous span per probed cell. q_c72's
    // drift monitor decides WHEN to pay this merge.
    // Approximate search class (q_c9/q_c71) ⇒ rows-only driver check.
    QueryDef("q_c130_ivf_compacted", None) { (s, d) =>
      val path = int8CompactedIndex(s, int8SegmentsIndex(s, d))
      val (fn, nprobe, _) = frozenQuantizer(s, path)
      graft.functions.CosineSimilarity.register(s)
      graft.functions.Int8Ops.register(s)
      val e = graft.core.CachedRdds.registerDf(
        embDouble(s, d).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      ivfSearchCodes(s, s.read.parquet(s"$path/codes"), e, fn, nprobe)
    },

    // ---- q_c131: artifact-only symmetric-int8 stage-1 search ----------------
    // The external-reader proof query for the int8-IVF artifact — the
    // one stored index whose encoding (packed int8 BINARY) is most
    // engine-specific. Every input is read from the COMPACTED index
    // alone (codes + cents + model; the float corpus is never touched):
    // queries are the corpus' own vec_id % 100 = 0 rows SERVED FROM
    // THEIR STORED CODES, centroids are re-quantized through the same
    // pack_int8 rule, and both the probe ranking and the stage-1 scores
    // are the SYMMETRIC int8 cosine (int8_cos_qq) — integer dot and
    // norms with one sqrt/multiply/divide tail, so every score is
    // BIT-DETERMINISTIC across IEEE engines (no float-summation-order
    // exposure anywhere). tools/compare_oracle.py replays this result
    // in DuckDB from the artifact parquet files alone (hex-unpacking
    // the BINARY codes) — the fourth external-reader parity row.
    // No corpus-relative SQL oracle exists (the quantizer is learned
    // model state, the q_c9 class) ⇒ rows-only driver check; the DuckDB
    // replay is the stronger gate.
    QueryDef("q_c131_ivf_stage1", None) { (s, d) =>
      ivfStage1Sym(s, int8CompactedIndex(s, int8SegmentsIndex(s, d)))
    },

    // ---- q_c132: IVF nprobe frontier calibration ----------------------------
    // q_c120's calibration verb for the OTHER approximate family: where
    // the LSH frontier trades (bands, rows) against candidate volume,
    // the IVF frontier trades nprobe against scanned rows — the two
    // knobs a pipeline owner actually turns. For each grid point
    // (1, 2, √k — the clustered-data operating point, k/4, k/2 — the
    // shipped uniform-fixture setting), run the REGISTERED two-stage
    // search over the stored compacted codes and score recall@5 against
    // the exact brute-force top-5 (q_b7's kernel, same query set), next
    // to the measured scanned-rows fraction (probed cells' populations
    // off the stored codes table — the index's own accounting, no
    // corpus read). Integer permille outputs.
    //
    // 100 TB shape: ground truth is ONE broadcast-queries corpus scan;
    // the codes are joined and int8-scored ONCE against the widest
    // probe list, and each candidate is replicated (ids and score only)
    // to the grid points whose fan-out covers its cell, so the windows,
    // rerank and accounting run once, keyed by nprobe — the summed
    // volume the per-point searches paid, in one job chain. The
    // scanned-rows leg joins the keyed probe list against the k-row cell
    // histogram. A calibration harness run on an ingest sample, not a
    // per-ingest cost (the q_c120 contract). Quantizer is learned model
    // state ⇒ rows-only driver check; IvfFrontierSpec pins monotone
    // recall, monotone scanned fraction, the endpoint floors, and every
    // grid point against an independent per-point search.
    QueryDef("q_c132_ivf_nprobe_frontier", None) { (s, d) =>
      ivfNprobeFrontier(s, d)
    },

    // ---- q_c135: int8-IVF segment retirement ----------------------------------
    // The q_c133 GC verdict for the int8 code family — the BINARY-column
    // artifact shape: packed q8 codes canonicalize through hex() inside
    // [[TextQueries.segmentRetirementPlan]] (injective, engine-neutral —
    // concat_ws on raw bytes would collapse distinct codes onto UTF-8
    // replacement characters). The compacted codes table (q_c130)
    // retires seg0/seg1 iff digests and row counts conserve; DuckDB
    // replays the verdict from the parquet alone via the same hex
    // canonicalization (tools/compare_oracle.py). Rows-only (stored
    // artifacts, never the corpus); byte-flip sensitivity is pinned in
    // RetirementPropertySpec's family sweep.
    QueryDef("q_c135_ivf_retirement", None) { (s, d) =>
      val segPath = int8SegmentsIndex(s, d)
      val cPath = int8CompactedIndex(s, segPath)
      TextQueries.segmentRetirementPlan(
        Seq("seg0" -> s.read.parquet(s"$segPath/seg0/codes"),
          "seg1" -> s.read.parquet(s"$segPath/seg1/codes")),
        s.read.parquet(s"$cPath/codes"))
    },

    // ---- q_c145: int8-IVF retirement GC --------------------------------------
    // The q_c141 GC verb for the int8 code family: build code segments
    // under the FROZEN quantizer, compact (model/cents carried
    // through), recompute the q_c135 digest verdict over the packed
    // BINARY codes, DELETE the certified segment directories
    // (atomically gated), journal to gc_log. Frame = the q_c131
    // symmetric-int8 stage-1 search served from the post-GC compacted
    // artifact + the GC outcome ([[TextQueries.gcServe]]). Rows-only
    // (stored artifacts only); RetirementGcSpec proves post-GC search ≡
    // the pre-GC segment-union search with the embeddings copy deleted
    // first; DuckDB reproduces the frame from the GC'd artifact alone
    // (tools/compare_oracle.py).
    //
    // 100 TB shape: the digest is one column-pruned scan per artifact
    // into additive 1-row state; stage-1 scans stored int8 codes at
    // 0.17× the float bytes, cell-routed.
    QueryDef("q_c145_ivf_gc", None) { (s, d) =>
      val path = int8GcIndex(s, d)
      TextQueries.gcServe(s, path, ivfStage1Sym(s, s"$path/compacted"))
        .orderBy(col("query_id"), col("arank"))
    }
  )

  /** The (source, vec_id, embedding) join frame shared by q_c93 and
    * q_c98 — the doc→source side joins on vec_id BEFORE any explode, so
    * only per-vector rows (never component triples) carry the join.
    */
  private def sourceEmbeddings(s: SparkSession, d: String): DataFrame =
    Tables.raw(s, d, "embeddings")
      .join(Tables.raw(s, d, "documents").select(col("doc_id"), col("source")),
        col("doc_id") === col("vec_id"))
      .select(col("source"), col("vec_id"), col("embedding"))

  /** q_c93's centroid construction over a (source, …, embedding) frame —
    * ONE copy shared by the matrix query and q_c98's two halves, so the
    * quantize-on-read / exact-decimal-sum discipline cannot fork.
    * Returns (cen = (source, i, m) quantized means, nv = per-source count
    * of CONTRIBUTING vectors): n_vecs counts len > 0 vectors — the
    * definition the streaming serve reproduces from its i = 0 state cell,
    * so an empty/NULL embedding row can never make serve ≠ batch.
    */
  private[graft] def centroidFrames(ee: DataFrame): (DataFrame, DataFrame) = {
    val ev = ee.select(col("source"), posexplode(col("embedding")))
      .withColumnRenamed("pos", "i").withColumnRenamed("col", "x")
    // one row per vector BEFORE the explode: n_vecs is free here, where
    // the post-explode distinct would shuffle dim× the rows to recover it
    val nv = ee.filter(size(col("embedding")) > 0).groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("n_vecs"))
    val cen = ev.groupBy(col("source"), col("i").cast("long").as("i"))
      .agg(dec(dec(sum(dec(col("x").cast("double")))).cast("double")
        / count(lit(1)).cast("double")).as("m"))
    (cen, nv)
  }

  /** q_c93's matrix tail over a quantized centroid frame (source, i, m)
    * and per-source vector counts — ONE copy shared by the batch query
    * and the streaming serve ([[graft.streaming.StreamingOps
    * .centroidDriftServe]]), so the two cannot fork.
    */
  private[graft] def centroidMatrix(cen: DataFrame, nv: DataFrame): DataFrame = {
    val nrm = cen.groupBy(col("source"))
      .agg(dec(sum(dec(col("m").cast("double") * col("m").cast("double"))))
        .as("nn"))
    // side b re-aliased column-by-column (fresh exprIds): a dataset-alias
    // self-join is ambiguous when both branches are the SAME plan node —
    // e.g. the streaming serve path, where cen projects one memory-sink view
    val cb = cen.select(col("source").as("src_b"), col("i").as("i_b"),
      col("m").as("m_b"))
    val dt = cen
      .join(cb, col("i") === col("i_b") && col("source") < col("src_b"))
      .groupBy(col("source").as("source_a"), col("src_b").as("source_b"))
      .agg(dec(sum(dec(col("m").cast("double") * col("m_b").cast("double"))))
        .as("dp"))
    dt
      .join(nrm.select(col("source").as("source_a"), col("nn").as("nn_a")),
        Seq("source_a"))
      .join(nrm.select(col("source").as("source_b"), col("nn").as("nn_b")),
        Seq("source_b"))
      .join(nv.select(col("source").as("source_a"), col("n_vecs").as("n_a")),
        Seq("source_a"))
      .join(nv.select(col("source").as("source_b"), col("n_vecs").as("n_b")),
        Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        when(col("nn_a") > 0 && col("nn_b") > 0,
          emitQ(col("dp").cast("double")
            / sqrt(col("nn_a").cast("double") * col("nn_b").cast("double"))))
          .otherwise(lit(0).cast("double")).as("cosine"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** q_c98's alarm tail over two quantized centroid frames (base side a,
    * batch side b: (source, i, m) + contributing-vector counts) — ONE
    * copy shared by the batch split-half query and the streaming serve
    * ([[graft.streaming.StreamingOps.centroidAlarmServe]]), so the
    * decision rule cannot fork. All decision arithmetic past the ONE
    * quantized cosine is exact integer/decimal: `cos_dec · 10⁶` is an
    * integer-valued decimal product (no engine rounding), and the
    * threshold uses truncating integer division on positive operands
    * (Spark DIV ≡ DuckDB // there).
    */
  private[graft] def centroidAlarm(
      cenA: DataFrame, nvA: DataFrame,
      cenB: DataFrame, nvB: DataFrame): DataFrame = {
    val nrmA = cenA.groupBy(col("source"))
      .agg(dec(sum(dec(col("m").cast("double") * col("m").cast("double"))))
        .as("nn_a"))
    // side b re-aliased column-by-column (fresh exprIds) — the q_c93
    // lesson: both branches can be the SAME plan node on the serve path
    val cb = cenB.select(col("source").as("src_b"), col("i").as("i_b"),
      col("m").as("m_b"))
    val nrmB = cb.groupBy(col("src_b").as("source"))
      .agg(dec(sum(dec(col("m_b").cast("double") * col("m_b").cast("double"))))
        .as("nn_b"))
    val dt = cenA
      .join(cb, col("source") === col("src_b") && col("i") === col("i_b"))
      .groupBy(col("source"))
      .agg(dec(sum(dec(col("m").cast("double") * col("m_b").cast("double"))))
        .as("dp"))
    dt
      .join(nrmA, Seq("source"))
      .join(nrmB, Seq("source"))
      .join(nvA.select(col("source"), col("n_vecs").as("n_base")), Seq("source"))
      .join(nvB.select(col("source"), col("n_vecs").as("n_batch")), Seq("source"))
      .withColumn("cos_dec",
        when(col("nn_a") > 0 && col("nn_b") > 0,
          dec(col("dp").cast("double")
            / sqrt(col("nn_a").cast("double") * col("nn_b").cast("double"))))
          .otherwise(dec(lit(0))))
      .withColumn("drift_q6",
        (lit(1000000L) - (col("cos_dec") * lit(1000000)).cast("long")).cast("long"))
      .withColumn("threshold_q6",
        (lit(10000L) + expr("4000000 DIV n_batch")).cast("long"))
      .select(col("source"), col("n_base"), col("n_batch"),
        emit(col("cos_dec")).as("cosine"),
        col("drift_q6"), col("threshold_q6"),
        when(col("drift_q6") > col("threshold_q6"), lit("rebuild"))
          .otherwise(lit("ok")).as("verdict"))
  }

  /** q_c72's monitor over an arbitrary batch-assignment frame (one `cell`
    * column) — factored out so Int8AppendSpec can feed a deliberately
    * SHIFTED batch through the identical plan.
    */
  private[graft] def ivfDrift(
      s: SparkSession, codesPath: String, batchCells: DataFrame,
      k: Int): DataFrame =
    ivfDriftFromCounts(s, codesPath,
      batchCells.groupBy(col("cell")).agg(count(lit(1)).as("batch_cnt")), k)

  /** The q_c72 drift tail over a PRE-COUNTED batch histogram (cell,
    * batch_cnt) — extracted so the streaming ingestion twin's additive
    * per-cell count state serves through the IDENTICAL decision
    * arithmetic ([[graft.streaming.StreamingOps.ivfDriftServe]]); the
    * per-vector batch path above is its only other caller.
    */
  private[graft] def ivfDriftFromCounts(
      s: SparkSession, codesPath: String, batch: DataFrame,
      k: Int): DataFrame = {
    val base = s.read.parquet(codesPath)
      .groupBy(col("cell")).agg(count(lit(1)).as("base_cnt"))
    val joined = base.join(batch, Seq("cell"), "full_outer")
      .select(col("cell"),
        coalesce(col("base_cnt"), lit(0L)).as("base_cnt"),
        coalesce(col("batch_cnt"), lit(0L)).as("batch_cnt"))
    val tot = joined.agg(
      sum(col("base_cnt")).as("base_n"), sum(col("batch_cnt")).as("batch_n"))
    val contrib = joined.crossJoin(broadcast(tot))
      .withColumn("p",
        (col("batch_cnt") + lit(0.5)) / (col("batch_n") + lit(0.5) * k))
      .withColumn("q",
        (col("base_cnt") + lit(0.5)) / (col("base_n") + lit(0.5) * k))
      .select(col("cell"), col("base_cnt"), col("batch_cnt"),
        emitQ(col("p") * log(col("p") / col("q"))).as("kl_contrib"))
    val total = contrib.agg(sum(col("kl_contrib")).as("kl_total"))
      .crossJoin(broadcast(tot.select(col("batch_n"))))
      .select(col("kl_total"),
        (lit(2.0) * col("batch_n") * col("kl_total")).as("drift_stat"))
    val gate = (k - 1).toDouble + 4.0 * math.sqrt(2.0 * (k - 1))
    contrib.crossJoin(broadcast(total))
      .select(col("cell"), col("base_cnt"), col("batch_cnt"),
        col("kl_contrib"), emitQ(col("kl_total")).as("kl_total"),
        emitQ(col("drift_stat")).as("drift_stat"),
        (col("drift_stat") > gate).as("rebuild"))
      .orderBy(col("cell"))
  }

  /** BASE-corpus (vec_id % 10 <> 3) stored int8-IVF index for q_c71's
    * append scenario — the shared SessionMemo stored-entry
    * lifecycle. Unlike the MinHash/BM25 base indexes, this one persists
    * its MODEL with its codes: the Lloyd-trained centroid matrix (`cents`)
    * and the (dim, nprobe, k) triple (`model`), so a warm serve — or the
    * append path — re-binds the FROZEN quantizer deterministically
    * without retraining. k·dim doubles ≤ 50 MB by the trainIvf cap: model
    * parameters, not data.
    */
  private[graft] def int8BaseIndex(s: SparkSession, d: String): String =
    graft.core.SessionMemo.stored(s, "int8-base", d, Seq(s"$d/embeddings.parquet")) { path =>
      val eb = graft.core.CachedRdds.registerDf(
        embDouble(s, d).filter(col("vec_id") % 10 =!= 3)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val (cents, dim, nprobe) = trainIvfCents(s, eb)
      val fn = graft.functions.NearestCells.register(s, cents, dim)
      buildInt8Index(s, eb, fn, s"$path/codes")
      import s.implicits._
      cents.grouped(dim).zipWithIndex
        .map { case (c, i) => (i, c.toSeq) }.toSeq
        .toDF("cell", "ctr")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/cents")
      Seq((dim, nprobe, cents.length / dim)).toDF("dim", "nprobe", "k")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/model")
    }

  /** Re-bind the frozen quantizer persisted with a stored base index:
    * (registered assignment-function name, nprobe, k). The decoded model
    * is a SessionMemo value keyed on the artifact path, so only the first
    * call per snapshot of `model` and `cents` reads them; the function is
    * registered on every call (a fresh session has none).
    */
  private[graft] def frozenQuantizer(
      s: SparkSession, path: String): (String, Int, Int) = {
    val (dim, nprobe, k, cents) = graft.core.SessionMemo.value(
        s, "ivf_quantizer", path, Seq(s"$path/model", s"$path/cents")) {
      val meta = s.read.parquet(s"$path/model").head()
      val (dim, nprobe, k) = (meta.getInt(0), meta.getInt(1), meta.getInt(2))
      val rows = s.read.parquet(s"$path/cents").collect()
      val cents = new Array[Double](k * dim)
      rows.foreach { r =>
        val c = r.getInt(0)
        val v = r.getSeq[Double](1)
        var i = 0
        while (i < dim) { cents(c * dim + i) = v(i); i += 1 }
      }
      (dim, nprobe, k, cents)
    }
    (graft.functions.NearestCells.register(s, cents, dim), nprobe, k)
  }

  /** q_c130's SEGMENTED int8 index — base and batch codes each persisted
    * as their own segment (the bm25/minhash/phrase segments pattern),
    * with the frozen model (cents + (dim, nprobe, k)) carried alongside
    * so every later verb is a function of the artifact alone. seg0 is
    * the base index's codes; seg1 is the arriving vec_id % 10 = 3 batch
    * coded under the FROZEN quantizer (q_c71's append discipline — the
    * base floats are never re-read).
    */
  private[graft] def int8SegmentsIndex(s: SparkSession, d: String): String =
    graft.core.SessionMemo.stored(s, "int8-segments", d, Seq(s"$d/embeddings.parquet")) { path =>
      val base = int8BaseIndex(s, d)
      val (fn, _, _) = frozenQuantizer(s, base)
      graft.functions.Int8Ops.register(s)
      Seq("model", "cents").foreach { t =>
        s.read.parquet(s"$base/$t").coalesce(1)
          .write.mode("overwrite").parquet(s"$path/$t")
      }
      s.read.parquet(s"$base/codes")
        .write.mode("overwrite").parquet(s"$path/seg0/codes")
      embDouble(s, d).filter(col("vec_id") % 10 === 3)
        .withColumn("cell", expr(s"element_at($fn(v, 1), 1)"))
        .select(col("vec_id"), col("cell"), expr("pack_int8(v)").as("q8"))
        .write.mode("overwrite").parquet(s"$path/seg1/codes")
    }

  /** The COMPACTED int8 artifact: segment code tables merged into one
    * cell-range-sorted table, model carried through. Keyed on the
    * segment directory's snapshot — compaction is a function of the
    * stored segments alone (Int8CompactSpec deletes the corpus copy
    * before compacting to prove it).
    */
  private[graft] def int8CompactedIndex(s: SparkSession, segPath: String): String =
    graft.core.SessionMemo.stored(s, "int8-compacted", segPath, Seq(segPath)) { path =>
      Seq("model", "cents").foreach { t =>
        s.read.parquet(s"$segPath/$t").coalesce(1)
          .write.mode("overwrite").parquet(s"$path/$t")
      }
      s.read.parquet(s"$segPath/seg0/codes", s"$segPath/seg1/codes")
        .repartitionByRange(col("cell"), col("vec_id"))
        .sortWithinPartitions(col("cell"), col("vec_id"))
        .write.mode("overwrite").parquet(s"$path/codes")
    }

  /** q_c145's GC'd int8-IVF artifact — code segments built under the
    * frozen quantizer, compacted with model/cents carried through, the
    * q_c135 verdict recomputed, retired segment directories DELETED
    * (atomically gated), journal written; its OWN artifact copy (GC is
    * destructive by design — it never acts on q_c135's shared
    * segments store).
    */
  private[graft] def int8GcIndex(s: SparkSession, d: String): String =
    graft.core.SessionMemo.stored(s, "int8-gc", d, Seq(s"$d/embeddings.parquet")) { path =>
      val base = int8BaseIndex(s, d)
      val (fn, _, _) = frozenQuantizer(s, base)
      graft.functions.Int8Ops.register(s)
      s.read.parquet(s"$base/codes")
        .write.mode("overwrite").parquet(s"$path/segments/seg0/codes")
      embDouble(s, d).filter(col("vec_id") % 10 === 3)
        .withColumn("cell", expr(s"element_at($fn(v, 1), 1)"))
        .select(col("vec_id"), col("cell"), expr("pack_int8(v)").as("q8"))
        .write.mode("overwrite").parquet(s"$path/segments/seg1/codes")
      Seq("model", "cents").foreach { t =>
        s.read.parquet(s"$base/$t").coalesce(1)
          .write.mode("overwrite").parquet(s"$path/compacted/$t")
      }
      s.read.parquet(s"$path/segments/seg0/codes", s"$path/segments/seg1/codes")
        .repartitionByRange(col("cell"), col("vec_id"))
        .sortWithinPartitions(col("cell"), col("vec_id"))
        .write.mode("overwrite").parquet(s"$path/compacted/codes")
      TextQueries.writeGcLog(s, TextQueries.retirementGc(s,
        Seq("seg0" -> s"$path/segments/seg0", "seg1" -> s"$path/segments/seg1"),
        s"$path/compacted", Seq("codes" -> None)), path)
    }

  /** q_c131's artifact-only stage-1: queries served from their own
    * stored codes, probe ranking and candidate scores both the
    * symmetric int8 cosine. Every arithmetic step is either exact
    * integer (dots, norms — |x| ≤ 127, so all partial sums are exact in
    * double regardless of order) or a single IEEE op (sqrt, multiply,
    * divide), so the scores — and therefore the rank order under the
    * (score DESC, id ASC) tie-break — are bit-identical in any IEEE-754
    * engine. The DuckDB replay in tools/compare_oracle.py leans on
    * exactly this.
    */
  private[graft] def ivfStage1Sym(
      s: SparkSession, path: String, fetch: Int = 20): DataFrame = {
    graft.functions.Int8Ops.register(s)
    ivfStage1SymFrames(s,
      s.read.parquet(s"$path/model").head().getInt(1),
      s.read.parquet(s"$path/codes"),
      s.read.parquet(s"$path/cents"), fetch)
  }

  /** [[ivfStage1Sym]] over explicit frames — the tail shared by the
    * stored-path serve and RetirementGcSpec's pre-GC segment-union
    * search, so the two cannot drift. Requires Int8Ops registered.
    */
  private[graft] def ivfStage1SymFrames(
      s: SparkSession, nprobe: Int, codes: DataFrame, cents: DataFrame,
      fetch: Int = 20): DataFrame = {
    graft.functions.Int8Ops.register(s)
    val cq = cents
      .select(col("cell"), expr("pack_int8(ctr)").as("c8"))
    val queries = codes.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("q8").as("p8"))
    val wP = Window.partitionBy(col("query_id"))
      .orderBy(col("pscore").desc, col("cell"))
    val probes = queries.crossJoin(broadcast(cq)) // |queries| × k model rows
      .withColumn("pscore", expr("int8_cos_qq(p8, c8)"))
      .withColumn("prank", row_number().over(wP))
      .filter(col("prank") <= nprobe)
      .select(col("query_id"), col("p8"), col("cell"))
    val wCell = Window.partitionBy(col("query_id"), col("cell"))
      .orderBy(col("ascore").desc, col("vec_id"))
    val wQ = Window.partitionBy(col("query_id"))
      .orderBy(col("ascore").desc, col("vec_id"))
    codes.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("ascore", expr("int8_cos_qq(q8, p8)"))
      .withColumn("cell_rank", row_number().over(wCell))
      .filter(col("cell_rank") <= fetch)
      .withColumn("arank", row_number().over(wQ).cast("long"))
      .filter(col("arank") <= fetch)
      .select(col("query_id"), col("arank"), col("vec_id"), col("ascore"))
      .orderBy(col("query_id"), col("arank"))
  }

  /** q_c132's frontier: recall@5 (vs exact brute force) and scanned-rows
    * permille per nprobe grid point, off the stored compacted index.
    * The grid spans the decisions the ANN literature argues about:
    * minimum fan-out (1, 2), the clustered-data structural point √k,
    * and the uniform-fixture escalation k/4 → k/2. One keyed pass: each
    * row equals the registered [[ivfSearchCodes]] at that fan-out
    * (IvfFrontierSpec).
    */
  private[graft] def ivfNprobeFrontier(s: SparkSession, d: String): DataFrame = {
    val path = int8CompactedIndex(s, int8SegmentsIndex(s, d))
    val (fn, _, k) = frozenQuantizer(s, path)
    graft.functions.CosineSimilarity.register(s)
    graft.functions.Int8Ops.register(s)
    val e = graft.core.CachedRdds.registerDf(
      embDoubleRaw(s, d).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val codes = s.read.parquet(s"$path/codes")
    // exact ground truth: q_b7's kernel at depth 5, same query set
    val q = queryFrame(e)
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("vec_id"))
    val truth = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("score", round(expr(cosExpr), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("vec_id"))
    // per-cell populations from the index's own codes table — the
    // scanned-rows accounting reads k rows of histogram, never the corpus
    val cellSizes = codes.groupBy(col("cell")).agg(count(lit(1)).as("cn"))
    val corpusStats = codes.agg(count(lit(1)).cast("long").as("n_corpus"))
    val grid = Seq(1, 2, sqrtNprobe(k), k / 4, k / 2)
      .map(np => math.min(k, math.max(1, np))).distinct.sorted
    val gridArr = array(grid.map(np => lit(np.toLong)): _*)
    // NearestCells orders cells by (similarity DESC, index ASC), so the
    // probe list at fan-out np is the first np cells of the widest one:
    // a cell at position pos belongs to every grid point with np > pos
    val inGrid = explode(filter(gridArr, np => np > col("pos"))).as("nprobe")
    val probes = q.select(col("query_id"), col("qv"),
      posexplode(expr(s"$fn(qv, ${grid.max})")).as(Seq("pos", "cell")))
    // stage 1 joins and scores the codes once; only the narrow
    // (ids, cell, ascore) rows are replicated per grid point
    val scored = codes.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("cell"), col("vec_id"), col("pos"),
        expr("int8_cos_q(q8, qv)").as("ascore"))
      .select(col("query_id"), col("cell"), col("vec_id"), col("ascore"), inGrid)
    // the registered search's over-fetch depth (ivfSearchCodes' default 4 × 5)
    val res = rerankTail(scored, e, fetch = 4 * 5, keys = Seq("nprobe"))
      .select(col("nprobe"), col("query_id"), col("vec_id"), lit(1).as("hit"))
    val stats = truth.select(col("query_id"), col("vec_id"), explode(gridArr).as("nprobe"))
      .join(res, Seq("nprobe", "query_id", "vec_id"), "left")
      .groupBy(col("nprobe"))
      .agg(count(lit(1)).cast("long").as("n_true"),
        sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hit"))
    val scanned = probes.select(col("query_id"), col("cell"), inGrid)
      .join(cellSizes, Seq("cell"))
      .groupBy(col("nprobe"))
      .agg(sum(col("cn")).cast("long").as("rows_scanned"),
        countDistinct(col("query_id")).cast("long").as("n_queries"))
    // the grid frame keeps every point's row, with the 0s and NULLs a
    // per-point aggregate over no rows gives; the per-point stats are
    // grid-sized, so they broadcast
    import s.implicits._
    grid.map(_.toLong).toDF("nprobe")
      .join(broadcast(stats), Seq("nprobe"), "left")
      .join(broadcast(scanned), Seq("nprobe"), "left")
      .crossJoin(broadcast(corpusStats)) // 1-row frame
      .select(col("nprobe"), coalesce(col("n_queries"), lit(0L)).as("n_queries"),
        coalesce(col("n_true"), lit(0L)).as("n_true"), col("n_hit"),
        col("rows_scanned"), col("n_corpus"))
      .select(col("nprobe"), col("n_queries"), col("n_true"), col("n_hit"),
        expr("CAST(n_hit * 1000 DIV n_true AS BIGINT)").as("recall_pm"),
        col("rows_scanned"),
        expr("CAST(rows_scanned * 1000 DIV (n_queries * n_corpus) AS BIGINT)")
          .as("scanned_pm"))
      .orderBy(col("nprobe"))
  }

  /** The corpus frame q_c9 trains and searches over. */
  private[graft] def ivfCorpus(s: SparkSession, d: String): DataFrame =
    embDouble(s, d)

  /** q_c9's TRAINING phase: strided deterministic seeds + 2 spherical
    * k-means (Lloyd) iterations, each ONE distributed aggregation whose
    * k·dim partial sums are the only rows to reach the driver; registers
    * the trained coarse quantizer as the codegen'd
    * [[graft.functions.NearestCells]] SQL function and returns its name
    * plus the search fan-out nprobe. The learned centroids are
    * driver-side model state — this phase has no SQL-text twin; the
    * SEARCH phase does (see [[SparkSqlQueries.qC9SearchSql]]).
    */
  private[graft] def trainIvf(
      s: SparkSession,
      e: DataFrame,
      lloydIters: Int = 2,
      nprobeOf: Int => Int = k => math.max(2, k / 2)): (String, Int) = {
    val (cents, dim, nprobe) = trainIvfCents(s, e, lloydIters, nprobeOf)
    (graft.functions.NearestCells.register(s, cents, dim), nprobe)
  }

  /** [[trainIvf]] returning the RAW model (flattened centroid matrix +
    * dim) instead of a registered function name — the form the stored
    * int8-IVF index persists alongside its codes, so a warm serve (or the
    * q_c71 append path) re-binds the FROZEN quantizer deterministically
    * without retraining.
    */
  private[graft] def trainIvfCents(
      s: SparkSession,
      e: DataFrame,
      lloydIters: Int = 2,
      nprobeOf: Int => Int = k => math.max(2, k / 2)): (Array[Double], Int, Int) = {
      val n = e.count()
      // k grows as 4·√n (the usual IVF sizing) but is CAPPED so the
      // driver-side model state stays bounded: every Lloyd iteration
      // collects k·dim partial sums, and uncapped k ≈ 126k at n = 10⁹
      // (~48M doubles/iteration at dim 384). At the cap the collect is
      // ≤ 16384·dim ≈ 50 MB — model parameters, independent of corpus
      // size; beyond that, recall is bought with nprobe, not more cells.
      // Default nprobe = k/2 is the UNIFORM-fixture setting (this corpus's
      // near-uniform synthetic embeddings cluster weakly — round-9 sweep);
      // on clustered data the structural setting is nprobe ≈ √k (see
      // [[sqrtNprobe]] / [[clusteredCorpus]]).
      val k = math.min(16384, math.max(8, 4 * math.sqrt(n.toDouble).toInt))
      val nprobe = math.min(k, math.max(2, nprobeOf(k)))
      // deterministic spread seeds: stride over vec_id (≈ linspace when ids
      // are dense); one tiny collect of k vectors
      val stride = math.max(1L, n / k)
      val strided = e
        .filter(pmod(col("vec_id"), lit(stride)) === 0)
        .orderBy(col("vec_id"))
        .limit(k)
        .select(col("v"))
        .collect()
      // Sparse/offset vec_ids can leave the strided sample empty (no id is
      // a multiple of stride); degrade to the first k vectors rather than
      // throwing on .head.
      val seedRows =
        if (strided.nonEmpty) strided
        else e.orderBy(col("vec_id")).limit(k).select(col("v")).collect()
      val dim = seedRows.head.getSeq[Double](0).length
      def normalized(vec: Array[Double]): Array[Double] = {
        val nrm = math.sqrt(vec.map(x => x * x).sum)
        if (nrm == 0.0) vec else vec.map(_ / nrm)
      }
      var cents: Array[Double] =
        seedRows.flatMap(r => normalized(r.getSeq[Double](0).toArray))
      val kEff = cents.length / dim
      // 2 Lloyd iterations: assign (projection) → per-cell partial sums
      // (distributed groupBy) → k rows to the driver → recenter. Two
      // formulations by dimension (PERF.md dim probe):
      //  - dim ≤ 768: per-dim sum COLUMNS — fully codegen'd hash agg, the
      //    fastest form. NOT a posexplode to (cell, pos, x) rows: a
      //    Generate collapses the assignment projection into its
      //    per-element output loop, so the k·dim NearestCells kernel
      //    would re-run once PER ELEMENT — a dim-fold amplification of
      //    the training cost (measured 64× = 45 s/iteration at 20k
      //    vectors, k=564 vs 0.7 s this way).
      //  - dim > 768: ONE [[graft.functions.VectorSum]]
      //    TypedImperativeAggregate whose buffer is a single
      //    Array[Double] (ObjectHashAggregate, map-side partials) — past
      //    codegen.maxFields=1024 the wide form silently loses
      //    whole-stage codegen and its 1538-column aggregate row is all
      //    setter overhead; the buffer aggregate is dimension-independent
      //    (IvfWideDimSpec pins a dim-1536 train+search end-to-end).
      val useWide = dim <= 768
      if (!useWide) graft.functions.VectorSum.register(s)
      for (_ <- 1 to lloydIters) {
        val fn = graft.functions.NearestCells.register(s, cents, dim)
        val cellCol = expr(s"element_at($fn(v, 1), 1)").as("cell")
        val sums =
          if (useWide) {
            val dimCols = (0 until dim).map(i => col("v").getItem(i).as(s"x$i"))
            e.select(cellCol +: dimCols: _*)
              .groupBy(col("cell"))
              .agg(count(lit(1)).as("cnt"),
                (0 until dim).map(i => sum(col(s"x$i")).as(s"s$i")): _*)
              .collect()
          } else {
            e.select(cellCol, col("v"))
              .groupBy(col("cell"))
              .agg(count(lit(1)).as("cnt"), expr("vector_sum(v)").as("vsum"))
              .collect()
          }
        val next = java.util.Arrays.copyOf(cents, cents.length)
        val acc = Array.fill(kEff)(new Array[Double](dim))
        val cntOf = new Array[Long](kEff)
        sums.foreach { r =>
          val cell = r.getInt(0)
          cntOf(cell) = r.getLong(1)
          if (useWide) {
            var i = 0
            while (i < dim) { acc(cell)(i) = r.getDouble(2 + i); i += 1 }
          } else {
            val sq = r.getSeq[Double](2)
            var i = 0
            while (i < dim) { acc(cell)(i) = sq(i); i += 1 }
          }
        }
        var c = 0
        while (c < kEff) {
          if (cntOf(c) > 0) {
            val mean = normalized(acc(c).map(_ / cntOf(c)))
            System.arraycopy(mean, 0, next, c * dim, dim)
          } // empty cell keeps its previous centroid
          c += 1
        }
        cents = next
      }
      (cents, dim, nprobe)
  }

  /** q_c9's SEARCH phase over a trained quantizer `fn`: assign each corpus
    * vector to its cell (codegen'd projection), probe each query's nprobe
    * nearest cells, score only the probed buckets, exact per-cell top-k
    * before the per-query global top-k. SQL-text twin:
    * [[SparkSqlQueries.qC9SearchSql]] (asserted row-identical in
    * SqlParitySpec).
    */
  private[graft] def ivfSearch(
      e: DataFrame, fn: String, nprobe: Int, nassign: Int = 1): DataFrame = {
      // nassign > 1 is SPILLED ASSIGNMENT (the multi-assignment idea from
      // the ANN literature, e.g. ScaNN's SOAR): index each corpus vector
      // under its nassign nearest cells, so a true neighbor is missed
      // only if NONE of its cells is probed. MEASURED on this corpus
      // (round 11, sf0.1, equal scanned budget): it does NOT beat plain
      // nprobe — 25 % scan: spill k/8×2 recall 0.81 vs single k/4 0.83;
      // 33 %: 0.86 vs 0.88 — because on near-uniform embeddings the
      // second-nearest cell is fully correlated with the query's probe
      // ranking (no diversity gain). Kept as a measurement mechanism
      // (default 1 everywhere): on corpora whose assignment/probe
      // rankings decorrelate it is the standard recall lever, and
      // [[scannedFraction]] counts the duplicated entries honestly.
      // nassign = 1 stays a pure projection — an explode would insert a
      // Generate node into the hot assignment scan for nothing
      val assigned =
        if (nassign == 1) e.withColumn("cell", expr(s"element_at($fn(v, 1), 1)"))
        else e.withColumn("cell", explode(expr(s"$fn(v, $nassign)")))
      val qProbe = e
        .filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("query_id"), col("v").as("qv"),
          explode(expr(s"$fn(v, $nprobe)")).as("cell"))
      // search only the probed cells; queries are tiny and broadcast
      val wCell = Window.partitionBy(col("query_id"), col("cell"))
        .orderBy(col("score").desc, col("vec_id"))
      val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("vec_id"))
      val scored = assigned.join(broadcast(qProbe), Seq("cell"))
        .filter(col("vec_id") =!= col("query_id"))
        .withColumn("score", round(expr(cosExpr), 4))
        // exact per-cell top-k pushdown: a query's global top-5 is
        // contained in its per-cell top-5s (each corpus entry lives in
        // its row's cell bucket), so the per-query window sees
        // ≤ 5·nprobe rows instead of the whole probed fraction of the
        // corpus. Same (score, vec_id) total order in both windows keeps
        // the result bit-identical.
        .withColumn("cell_rank", row_number().over(wCell))
        .filter(col("cell_rank") <= 5)
        .select(col("query_id"), col("vec_id"), col("score"))
      // under spilled assignment one (query, vec) pair can surface from
      // two probed cells; the surviving rows are identical triples, so
      // the dedup is deterministic. No-op (and skipped) at nassign = 1.
      val uniq = if (nassign > 1) scored.dropDuplicates("query_id", "vec_id") else scored
      uniq
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 5)
        .select(col("query_id"), col("rank"), col("vec_id"), emit(col("score")).as("score"))
        .orderBy(col("query_id"), col("rank"))
  }

  /** Two-stage IVF search with int8 first-stage scoring and exact rerank
    * (round 12, VERDICT lead 6 — the FAISS "refine" pattern): stage 1
    * scans the probed cells against an int8-quantized corpus column
    * (q_c17's symmetric per-vector quantization; the per-vector scale mx
    * cancels out of cosine, so the approximate score is
    * dot(q8, qv)/‖q8‖ — rank-equivalent to quantized cosine), keeps an
    * OVER-FETCHED top (overfetch·5) per query, and stage 2 computes the
    * exact double cosine on only those rows before the final top-5.
    *
    * What this buys at scale: the stage-1 scan reads a 1-byte-per-element
    * column instead of the 4-byte float vectors — at 100 TB the search is
    * IO-bound and the byte-equivalent scan cost drops ~4× at the same
    * probe fan-out, while the exact rerank bounds the quantization loss
    * to candidates that fell out of the over-fetch window. In-engine the
    * q8 column is derived in the same scan (array<int> — local[32] has no
    * int8 SIMD, so local WALL time does not drop; the honest local
    * measurement is the recall delta, PERF.md round 12). Row-scanned
    * accounting is UNCHANGED (stage 1 touches the same rows); only the
    * bytes-per-row changes — the PERF record reports both.
    */
  private[graft] def ivfSearchRerank(
      e: DataFrame, fn: String, nprobe: Int, overfetch: Int = 4): DataFrame = {
    val fetch = overfetch * 5
    val assigned = e
      .withColumn("cell", expr(s"element_at($fn(v, 1), 1)"))
      .withColumn("mx", expr("array_max(transform(v, x -> abs(x)))"))
      .withColumn("q8",
        expr("transform(v, x -> CAST(round(x * 127 / greatest(mx, 1e-12D)) AS INT))"))
      .select(col("vec_id"), col("cell"), col("q8"))
    val cands = assigned.join(broadcast(probeQueries(e, fn, nprobe)), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      // ‖qv‖ is constant per query — rank-invariant, omitted
      .withColumn("ascore",
        expr("aggregate(zip_with(q8, qv, (a, b) -> a * b), 0D, (acc, y) -> acc + y)" +
          " / greatest(sqrt(aggregate(q8, 0D, (acc, y) -> acc + CAST(y AS DOUBLE) * y)), 1e-12D)"))
    rerankTail(cands, e, fetch)
  }

  /** The query side of the rerank searches: fixed query ids, each probing
    * its nprobe nearest cells.
    */
  private def probeQueries(e: DataFrame, fn: String, nprobe: Int): DataFrame =
    e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        explode(expr(s"$fn(v, $nprobe)")).as("cell"))

  /** Shared tail of the two-stage searches: per-cell + per-query pushdown
    * of the int8 stage-1 scores to the over-fetch depth, then the exact
    * rerank over only `fetch` full-precision rows per query. `keys` are
    * extra partition-key columns: every window, the rerank and the
    * output are per (keys, query_id), so one call runs a whole keyed
    * sweep (q_c132's nprobe grid) and a single search is the zero-key
    * case.
    *
    * Two window layouts, dispatched on `spark.graft.rerank.narrowWindows`
    * (default FALSE — the local harness winner; TRUE in
    * [[graft.core.GraftSession.clusterConfs]]): the default carries the
    * query vector through the two row_number sorts, the narrow form
    * sorts (ids, ascore) only and re-joins qv from [[queryFrame]] after
    * the cut. A scored frame without qv (the keyed sweep keeps it out of
    * its replicated rows) always takes the narrow form. Measured
    * (RerankWidthHarness, PERF.md round 21): per-search the narrow form
    * is equal at dim 64 and 15–27 % faster at dims 384–1536 (qv is
    * dim × 8 B per probed candidate row through the sorts — 12 KB at
    * 1536); what keeps it out of the local default is the sandbox's
    * per-broadcast job overhead. Same rows out either way — the sort
    * keys never involved qv — and RerankNarrowSpec and IvfFrontierSpec
    * pin the equality.
    */
  private def rerankTail(
      scored: DataFrame, e: DataFrame, fetch: Int,
      keys: Seq[String] = Nil): DataFrame = {
    val narrow = !scored.columns.contains("qv") ||
      e.sparkSession.conf.get("spark.graft.rerank.narrowWindows", "false") == "true"
    val part = keys.map(col) :+ col("query_id")
    val wCell = Window.partitionBy(part :+ col("cell"): _*)
      .orderBy(col("ascore").desc, col("vec_id"))
    val wQ = Window.partitionBy(part: _*)
      .orderBy(col("ascore").desc, col("vec_id"))
    val base = if (narrow)
      scored.select(part ++ Seq(col("cell"), col("vec_id"), col("ascore")): _*)
    else scored
    val cut = base
      // same per-cell pushdown as ivfSearch, at the over-fetched depth
      .withColumn("cell_rank", row_number().over(wCell))
      .filter(col("cell_rank") <= fetch)
      .withColumn("arank", row_number().over(wQ))
      .filter(col("arank") <= fetch)
    val cands = if (narrow)
      cut.select(part :+ col("vec_id"): _*)
        .join(broadcast(queryFrame(e)), Seq("query_id"))
    else cut.select(part ++ Seq(col("qv"), col("vec_id")): _*)
    // exact rerank: only `fetch` full-precision rows per query
    val w = Window.partitionBy(part: _*).orderBy(col("score").desc, col("vec_id"))
    cands.join(e.select(col("vec_id"), col("v")), Seq("vec_id"))
      .withColumn("score", round(expr(cosExpr), 4))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .select(part ++ Seq(col("rank"), col("vec_id"), emit(col("score")).as("score")): _*)
      .orderBy(part :+ col("rank"): _*)
  }

  /** The fixed query set of the rerank searches: one (query_id, qv) row
    * per query — what the narrow tail re-joins after its windows.
    */
  private def queryFrame(e: DataFrame): DataFrame =
    e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))

  /** Round-13 STORED int8 index (NEXT.md lead 4): materialize the
    * quantized corpus as a narrow parquet index table
    * (vec_id, cell, q8 BINARY — 1 byte per element via the codegen'd
    * [[graft.functions.PackInt8]]), so the stage-1 scan's 4× byte
    * reduction is an in-engine property of the columnar scan rather than
    * an at-scale argument: stage 1 reads ONLY the index table's columns
    * (~dim bytes per row), and the float corpus is touched solely by the
    * exact rerank's per-candidate join (`fetch` rows per query). At
    * cluster scale the index table is the only thing the fan-out scan
    * touches — it is ~8× smaller on disk than the float corpus (measured
    * in Int8IndexSpec), so cache residency and scan bandwidth both
    * improve by the same factor. Scores are bit-identical to the derived
    * path ([[graft.functions.Int8CosineQ]] reproduces the HOF
    * accumulation order exactly), so stored-vs-derived search results
    * cannot drift (spec-pinned).
    */
  private[graft] def buildInt8Index(
      s: SparkSession, e: DataFrame, fn: String, path: String): Unit = {
    graft.functions.Int8Ops.register(s)
    e.withColumn("cell", expr(s"element_at($fn(v, 1), 1)"))
      .select(col("vec_id"), col("cell"), expr("pack_int8(v)").as("q8"))
      .write.mode("overwrite").parquet(path)
  }

  /** Two-stage search over a stored int8 index: stage 1 scans the narrow
    * index table, stage 2 exact-reranks against the float corpus.
    */
  private[graft] def ivfSearchStored(
      s: SparkSession, indexPath: String, e: DataFrame, fn: String,
      nprobe: Int, overfetch: Int = 4): DataFrame =
    ivfSearchCodes(s, s.read.parquet(indexPath), e, fn, nprobe, overfetch)

  /** The stored search over an arbitrary (vec_id, cell, q8) codes frame —
    * shared verbatim by [[ivfSearchStored]] (one parquet index) and the
    * q_c71 append path (stored base codes ∪ batch codes), so the two
    * serve paths can never drift.
    */
  private[graft] def ivfSearchCodes(
      s: SparkSession, codes: DataFrame, e: DataFrame, fn: String,
      nprobe: Int, overfetch: Int = 4): DataFrame = {
    graft.functions.Int8Ops.register(s)
    val fetch = overfetch * 5
    val cands = codes
      .join(broadcast(probeQueries(e, fn, nprobe)), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("ascore", expr("int8_cos_q(q8, qv)"))
    rerankTail(cands, e, fetch)
  }

  /** The structural nprobe for clustered data: √k (the standard IVF
    * operating point — probes grow with the square root of the cell
    * count, so the scanned fraction shrinks as 1/√k with corpus size).
    */
  private[graft] val sqrtNprobe: Int => Int = k => math.ceil(math.sqrt(k.toDouble)).toInt

  /** Deterministic planted-cluster variant of an embeddings corpus
    * (q_c4b's generator-determinism discipline): each vector is moved to
    * `center(vec_id % nClusters) + alpha · v/‖v‖` — `nClusters` seeded
    * unit centers (driver-side model constants, broadcast) plus an
    * alpha-scaled unit perturbation derived from the ORIGINAL vector.
    * Intra-cluster cosine ≈ 1/(1+α²) ≈ 0.94 at α = 0.25; inter-cluster
    * ≈ 0 (independent high-dim unit centers) — so nearest neighbors are
    * same-cluster by construction and IVF recall at nprobe ≈ √k is
    * STRUCTURAL (the probed cells blanket the query's own cluster),
    * unlike the near-uniform base fixture where recall must be bought
    * with fan-out. Used by SimilarityRecallSpec and the bench quality
    * block; never a correctness-gated query (it exists to measure the
    * quantizer, not the corpus).
    */
  private[graft] def clusteredCorpus(
      s: SparkSession,
      e: DataFrame,
      nClusters: Int = 64,
      alpha: Double = 0.25,
      seed: Long = 1042L): DataFrame = {
    val dim = e.select(size(col("v"))).head().getInt(0)
    val rnd = new java.util.Random(seed)
    val centers = (0 until nClusters).map { c =>
      val raw = Array.fill(dim)(rnd.nextGaussian())
      val nrm = math.sqrt(raw.map(x => x * x).sum)
      (c.toLong, raw.map(_ / nrm).toSeq)
    }
    import s.implicits._
    val cdf = centers.toDF("cl", "ctr")
    e.withColumn("cl", pmod(col("vec_id"), lit(nClusters.toLong)))
      .join(broadcast(cdf), Seq("cl"))
      .withColumn("nrm",
        greatest(sqrt(expr("aggregate(v, 0D, (a, y) -> a + y * y)")), lit(1e-12)))
      .select(col("vec_id"), col("label"),
        expr(s"zip_with(ctr, v, (c, x) -> c + ${alpha}D * x / nrm)").as("v"))
  }

  /** MEASURED fraction of the corpus a search at (fn, nprobe) actually
    * scans: Σ_q |probed buckets of q| / (nQueries · n). Two tiny
    * aggregations (cell histogram + probe join) — the number the recall
    * figure is meaningless without (recall 0.95 scanning 50 % of the
    * corpus is fan-out, not structure).
    */
  private[graft] def scannedFraction(
      e: DataFrame, fn: String, nprobe: Int, nassign: Int = 1): Double = {
    val sizes = (
      if (nassign == 1) e.withColumn("cell", expr(s"element_at($fn(v, 1), 1)"))
      else e.withColumn("cell", explode(expr(s"$fn(v, $nassign)"))))
      .groupBy(col("cell")).agg(count(lit(1)).as("cnt"))
    val probed = e
      .filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), explode(expr(s"$fn(v, $nprobe)")).as("cell"))
    val row = probed.join(sizes, Seq("cell"))
      .agg(sum(col("cnt")).as("scanned"), countDistinct(col("query_id")).as("nq"))
      .head()
    val n = e.count().toDouble
    if (row.isNullAt(0) || n == 0.0) 0.0
    else row.getLong(0).toDouble / (row.getLong(1).toDouble * n)
  }

  /** Quality probe shared by the bench artifact and SimilarityRecallSpec:
    * train IVF on `e` at `nprobeOf`, compute mean recall@5 vs the exact
    * brute-force top-5 over the SAME frame, and the measured scanned
    * fraction. Returns (recall@5, scannedFraction, k, nprobe).
    */
  private[graft] def ivfQuality(
      s: SparkSession,
      e0: DataFrame,
      nprobeOf: Int => Int,
      nassign: Int = 1,
      search: (DataFrame, String, Int) => DataFrame = null): (Double, Double, Int, Int) = {
    graft.functions.CosineSimilarity.register(s)
    val e = graft.core.CachedRdds.registerDf(
      e0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val (fn, nprobe) = trainIvf(s, e, nprobeOf = nprobeOf)
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("vec_id"))
    val q = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val brute = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("score", round(expr(cosExpr), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("vec_id"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val searchFn = Option(search)
      .getOrElse((ee: DataFrame, f: String, np: Int) => ivfSearch(ee, f, np, nassign))
    val got = searchFn(e, fn, nprobe)
      .collect()
      .map(r => (r.getLong(0), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recalls = brute.keys.toSeq.map { qid =>
      brute(qid).intersect(got.getOrElse(qid, Set.empty)).size.toDouble / brute(qid).size
    }
    val recall = if (recalls.isEmpty) 0.0 else recalls.sum / recalls.length
    val frac = scannedFraction(e, fn, nprobe, nassign)
    // k is recomputed the same way trainIvf sized it (count is cheap on
    // the persisted frame) so callers can report nprobe/k
    val n = e.count()
    val k = math.min(16384, math.max(8, 4 * math.sqrt(n.toDouble).toInt))
    (recall, frac, k, nprobe)
  }
}
