package graft.operators

import graft.core.{Decimals, QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication suite over `documents` (SURVEY §2.4-B + north-star ops):
  * exact hash dedup, word-shingle Jaccard near-dup, MinHash+LSH, SimHash,
  * char-n-gram Jaccard.
  *
  * Determinism rules so DuckDB can replicate every step:
  *  - token hash = polynomial rolling hash over characters,
  *    h = fold(31·acc + ascii(c)) mod 1e9+7 — identical arithmetic in both
  *    engines (no murmur3 dependency);
  *  - Jaccard thresholds are evaluated in integer arithmetic
  *    (shared·10 ≥ union·τ10), never in floating point;
  *  - pair output is canonical (doc_a < doc_b) with total ORDER BY.
  *
  * Scale posture (100 TB): every pipeline is explode → shuffle-on-token →
  * count — no driver materialization. LSH banding keeps the candidate-pair
  * blowup bounded (only docs sharing a band collide), which is the scale
  * path; the plain shingle self-join is the small-scale/oracle-checkable
  * variant.
  */
object DedupQueries {
  import Decimals._

  /** fold of (31·acc + ascii(c)) mod 1e9+7 over the characters of `c` —
    * the codegen'd [[graft.functions.PolyHash]] kernel (optimization r19;
    * value-identical to the HOF spelling the SQL twins and oracles keep,
    * pinned in PolyHashSpec + SqlParitySpec). Callers must [[hashFns]]
    * the session first.
    */
  private def rollingHash(c: String): String = s"poly_hash($c)"

  /** Register the poly-hash kernel family into a session (idempotent). */
  private def hashFns(s: SparkSession): Unit = {
    graft.functions.PolyHash.register(s)
    graft.functions.GramHashes.register(s)
    graft.functions.SlidingMin.register(s)
  }

  /** DuckDB twin of [[rollingHash]]. */
  private def duckRollingHash(c: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), [CAST(ascii(x) AS BIGINT) for x in string_split($c, '')]), (acc, ch) -> (acc * 31 + ch) % 1000000007)"

  /** doc_id + distinct word-3-shingles. */
  private def shingles(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "documents")
      .select(col("doc_id"), split(lower(col("text")), " ").as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(
        col("doc_id"),
        explode(
          expr(
            "array_distinct(transform(sequence(0, size(toks) - 3)," +
              " i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))"
          )
        ).as("shingle")
      )

  private val duckShingles: String =
    """toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
      |ks AS (SELECT doc_id, t, unnest(range(len(t) - 2)) AS k FROM toks WHERE len(t) >= 3),
      |sh AS (SELECT DISTINCT doc_id, t[k+1] || ' ' || t[k+2] || ' ' || t[k+3] AS shingle
      |       FROM ks)""".stripMargin

  /** MinHash permutation params h_i(x) = (a_i·x + b_i) mod p. The
    * multipliers must be large and pairwise-independent-ish: small
    * correlated constants (2,3,5..) make every band collide and the LSH
    * degenerates to all-pairs. Fixed arbitrary 9-digit odd constants.
    */
  private val minhashParams: Seq[(Long, Long)] =
    Seq(
      (487198041L, 259200101L), (741932517L, 373587883L),
      (268435399L, 608135813L), (104395303L, 36028797L),
      (655360001L, 177777773L), (920419813L, 51218317L))

  /** Exact AllPairs prefix-filtered Jaccard pair generation (Bayardo et
    * al., WWW'07). Input: one row per (doc_id, key) where `key` is the set
    * element (a shingle, or `source\u0000gram` when a blocking column is
    * folded into the element). Output: (doc_a, doc_b, shared, uni, n_a,
    * n_b) for every pair with shared·10 ≥ uni·tau10, bit-identical to the
    * naive self-join the DuckDB oracles run.
    *
    * Shape (single-pass per stage — the round-5 version recomputed the
    * explode lineage for each of cnt/freq/join and ran a per-doc
    * row_number window; this one caches the keyed stream once, builds the
    * per-doc SORTED gid array once, and derives the prefix by slicing that
    * array, so the window, the separate cnt aggregate, and two full
    * re-explodes disappear):
    *  1. rarity dictionary: groupBy(key)→count, distributed range-sort by
    *     (f, key), then DENSE gids 0..V-1 assigned from per-partition
    *     offsets (one sizes job over the persisted sorted vocab) in
    *     ascending-frequency order — emitted as INT when the vocabulary
    *     fits 2^31 (halves the verify-stage array shuffles), BIGINT
    *     fallback otherwise; no single-partition window anywhere;
    *  2. garr: per-doc sort_array(collect_list(gid)) + n_g, persisted —
    *     ascending gid IS rarity order, so the AllPairs prefix is simply
    *     the first `prefixLen(n_g)` elements;
    *  3. candidates: prefix self-join on gid (doc_a < doc_b), distinct;
    *  4. verify: O(n+m) sorted-merge intersect (codegen'd
    *     intersect_count_sorted) against the cached garr arrays.
    *
    * `prefixLen` must be computed in INTEGER arithmetic: p = n − ⌈τ·n⌉ + 1;
    * a float ceil could round UP and silently shorten the prefix below the
    * exactness bound. 100 TB posture: candidate volume tracks true
    * similarity (not corpus size) — MEASURED on the Heaps-law fixture
    * (round 15, `tools/gen_scale_docs.py` heaps mode: vocab ~ n^0.7,
    * Zipf-Mandelbrot frequencies): q_c3 wall exponent 0.76 at 1×/3×/10×
    * with prefix-restricted pair-volume exponent 1.79 vs 2.29 on the
    * deliberately adversarial fixed-head-vocab fixture (PERF.md round-19
    * table) — the kernel sheds the quadratic pool faster the more
    * Heaps-like the corpus; every stage is a key-partitioned
    * shuffle; the build-internal persisted intermediates are registered
    * with CachedRdds so harnesses release executor storage after
    * materialization, while the garr frame itself is memoized per
    * (session, documents snapshot) in [[graft.core.SessionMemo]].
    */
  /** Rarity dictionary over a (doc_id, key) stream: one row per distinct
    * key with a DENSE gid 0..V-1 in ascending (frequency, key) order.
    * Distributed range-sort by (f, key) — a total order, so the result is
    * deterministic — then ids assigned from per-partition offsets (one
    * small sizes job over the persisted sorted vocab; range partitions
    * are ordered so offset + row is the global sort rank). Dense ranks
    * buy the width guard: when the vocabulary fits 2^31 the gid is
    * emitted as INT, which HALVES the dominant verify-stage shuffle (the
    * two array-attach joins ship ~2×|cand|·avg|gids| elements — the top
    * cost of q_c3 at adversarial gram density), with a lossless BIGINT
    * fallback for larger dictionaries (branch forced in
    * RarityIdsSpec via `intMaxVocab`). No single-partition funnel
    * anywhere: the sort is range-partitioned, the sizes job collects one
    * count per partition, and id assignment is map-side.
    */
  private[graft] def rarityIds(
      s: SparkSession,
      g: DataFrame,
      intMaxVocab: Long = Int.MaxValue.toLong): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    import s.implicits._
    val base = graft.core.CachedRdds.registerDf(
      g.groupBy(col("key")).agg(count(lit(1)).as("f"))
        .persist(StorageLevel.MEMORY_AND_DISK))
    val sortedKeys = graft.core.CachedRdds.register(
      base.orderBy(col("f"), col("key")).select(col("key")).as[String].rdd
        .persist(StorageLevel.MEMORY_AND_DISK))
    val sizes = sortedKeys
      .mapPartitionsWithIndex((i, it) => Iterator((i, it.size)))
      .collect().sortBy(_._1).map(_._2.toLong)
    val offsets = sizes.scanLeft(0L)(_ + _)
    val vocab = if (offsets.isEmpty) 0L else offsets.last
    if (vocab <= intMaxVocab) {
      val offs = offsets
      sortedKeys.mapPartitionsWithIndex { (i, it) =>
        var next = offs(i).toInt
        it.map { k => val r = (k, next); next += 1; r }
      }.toDF("key", "gid")
    } else {
      val offs = offsets
      sortedKeys.mapPartitionsWithIndex { (i, it) =>
        var next = offs(i)
        it.map { k => val r = (k, next); next += 1; r }
      }.toDF("key", "gid")
    }
  }

  private def allPairsJaccard(
      s: SparkSession,
      d: String,
      memoKind: String,
      keyed: DataFrame,
      prefixLen: org.apache.spark.sql.Column,
      tau10: Int): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    graft.functions.IntersectCountSorted.register(s)
    import s.implicits._
    // The dictionary+garr build is deterministic per (session, documents
    // snapshot), so it lives in the SessionMemo: a repeat invocation in
    // one session (or the dup-cluster queries re-deriving the same garr)
    // skips the explode scan, the rarity sort, and the dictionary-encode
    // shuffle entirely. Unlike the candidate memo this frame is
    // CORPUS-sized (one row per doc with its sorted gram-id array) —
    // MEMORY_AND_DISK spills it under pressure, and the memo evicts on
    // snapshot change and session stop.
    val garr = graft.core.SessionMemo.getOrBuild(
      s, memoKind, d, Seq(s"$d/documents.parquet")) {
      // cache the exploded (doc_id, key) stream: it feeds BOTH the rarity
      // dictionary and the dictionary-encode join, and the explode +
      // array_distinct lineage is the most expensive scan in the pipeline
      val g = graft.core.CachedRdds.registerDf(
        keyed.persist(StorageLevel.MEMORY_AND_DISK))
      g.join(rarityIds(s, g), Seq("key"))
        .groupBy(col("doc_id"))
        .agg(sort_array(collect_list(col("gid"))).as("gids"), count(lit(1)).as("n_g"))
    }
    val prefix = garr
      .select(
        col("doc_id"), col("n_g"),
        posexplode(slice(col("gids"), lit(1), prefixLen.cast("int"))))
      .toDF("doc_id", "n_g", "pos", "gid")
    // Two exact candidate prunes evaluated INSIDE the join, before the
    // distinct and the (dominant) verify-stage array shuffle:
    //  - length filter (Arasu/Bayardo): J(A,B) ≤ min(|A|,|B|)/max(|A|,|B|),
    //    so J ≥ τ requires 10·min ≥ τ10·max;
    //  - PPJoin positional filter (Xiao et al., WWW'08): a token shared at
    //    0-based sorted positions (pa, pb) bounds the overlap by
    //    1 + min(n_a−pa−1, n_b−pb−1) — everything shared besides this token
    //    sits strictly after it in BOTH sorted arrays — and J ≥ τ needs
    //    α·(10+τ10) ≥ τ10·(n_a+n_b). Filtering each collision row keeps
    //    every qualifying pair: at the FIRST shared token (minimal gid ⇒
    //    minimal pa AND pb) the bound is ≥ the true overlap, so that row
    //    always survives; later collisions only tighten. Integer arithmetic
    //    throughout — the verify step still reproduces the naive join
    //    bit-for-bit, this only shrinks what reaches it.
    val cand = prefix.as("a")
      .join(
        prefix.as("b"),
        col("a.gid") === col("b.gid") && col("a.doc_id") < col("b.doc_id") &&
          col("a.n_g") * 10 >= col("b.n_g") * tau10 &&
          col("b.n_g") * 10 >= col("a.n_g") * tau10 &&
          (lit(1L) + least(
            col("a.n_g") - col("a.pos") - 1L,
            col("b.n_g") - col("b.pos") - 1L)) * (10 + tau10) >=
            (col("a.n_g") + col("b.n_g")) * tau10)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    // NOTE: broadcasting garr into the verify joins measured 10x SLOWER
    // than the shuffle joins (copying the array per probe into the
    // generated-code stream); the shuffle join sorts doc-id pairs instead.
    // SHUFFLE_HASH on the garr sides was A/B'd and REVERTED (round 13):
    // it does kill the wide-stream sort, but SMJ's doc_a-ordered join-1
    // output is what makes the repeated ga arrays adjacent in the next
    // exchange — hash-join ordering ballooned that shuffle's compressed
    // bytes 1.83 → 10.97 GB and pass-A core time 2.2× at scale10.
    val verified = cand
      .join(garr.select(col("doc_id").as("doc_a"), col("gids").as("ga"),
        col("n_g").as("n_a")), Seq("doc_a"))
      .join(garr.select(col("doc_id").as("doc_b"), col("gids").as("gb"),
        col("n_g").as("n_b")), Seq("doc_b"))
      // O(n+m) merge on the sorted id arrays (native codegen'd
      // expression) — array_intersect's per-row hash set was the
      // verify-step bottleneck at 0.5M candidate pairs.
      // The τ test is phrased so the merge is referenced ONCE:
      // shared·10 ≥ (n_a+n_b−shared)·τ10 ⟺ shared·(10+τ10) ≥
      // (n_a+n_b)·τ10 (exact integer algebra). The original
      // shared/uni-column form let PushPredicateThroughNonJoin
      // substitute the expression into the join condition TWICE and the
      // survivor projection recomputed it a third time — 3 O(n+m)
      // merges per candidate pair where one suffices (scale10 profile,
      // round 13). Filtering first keeps the join-condition evaluation
      // the only per-candidate one; the named columns below are
      // recomputed only for the ~1e-2 surviving fraction.
      .filter(
        expr(s"intersect_count_sorted(ga, gb) * ${10 + tau10} >= (n_a + n_b) * $tau10"))
    verified
      .withColumn("shared", expr("intersect_count_sorted(ga, gb)"))
      .withColumn("uni", col("n_a") + col("n_b") - col("shared"))
  }

  /** Banded-MinHash candidate pairs (doc_a < doc_b), shared by q_c1 and
    * the duplicate-cluster op (q_c13 in PipelineQueries): 3-word shingles
    * → 6 permutations → 3 bands of 2 rows → docs sharing any band key.
    */
  def minhashCandidates(s: SparkSession, d: String): DataFrame =
    candidatesFromSigs(minhashSignatures(s, d))

  /** The per-doc 6-permutation signature frame (doc_id, mh0..mh5) — the
    * artifact worth STORING: 48 bytes/doc computed once at ingest, vs
    * re-shingling the raw text on every dedup run (see q_c66).
    */
  private[graft] def minhashSignatures(s: SparkSession, d: String): DataFrame = {
    // gram_hashes instead of the shingles() string pipeline: the only
    // consumers here are MIN aggregates over permuted hashes, and min is
    // invariant to duplicates, so the array_distinct + shingle-string
    // construction + per-string HOF hashing all drop out (each character
    // is hashed ONCE via composition — optimization r19, guide §1.2).
    // Values are provably identical to hashing the distinct shingle set;
    // the DuckDB oracle and the SQL twin keep the string form.
    hashFns(s)
    val h = Tables(s, d, "documents")
      .select(col("doc_id"), split(lower(col("text")), " ").as("ts"))
      .filter(size(col("ts")) >= 3)
      .select(col("doc_id"), explode(expr("gram_hashes(ts, 3)")).as("th"))
    val mhAggs = minhashParams.zipWithIndex.map { case ((a, b), i) =>
      min(expr(s"($a * th + $b) % 1000000007L")).as(s"mh$i")
    }
    h.groupBy(col("doc_id")).agg(mhAggs.head, mhAggs.tail: _*)
  }

  /** Banded candidate generation over a signature frame — shared verbatim
    * by the derived path ([[minhashCandidates]]) and the stored-index
    * path ([[minhashSearchStored]]), so the two can never drift.
    */
  private[graft] def candidatesFromSigs(sig: DataFrame): DataFrame = {
    val bands = (0 until 3)
      .map { bandIdx =>
        sig.select(
          col("doc_id"),
          lit(bandIdx).as("band"),
          concat_ws("_", col(s"mh${2 * bandIdx}"), col(s"mh${2 * bandIdx + 1}")).as("key")
        )
      }
      .reduce(_ unionByName _)
    bands
      .as("a")
      .join(
        bands.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key")
          && col("a.doc_id") < col("b.doc_id")
      )
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** Write the stored MinHash signature index: one row per doc, six
    * BIGINT minhashes, range-partitioned and sorted by doc_id (doc-keyed
    * point lookups and merge joins prune on parquet min/max). The third
    * stored index after int8-IVF and BM25 postings — at ingest scale the
    * signature column is ~48 B/doc vs re-reading and re-shingling the
    * full text (the dominant dedup cost) on every run.
    */
  private[graft] def buildMinhashIndex(
      s: SparkSession, d: String, path: String): Unit =
    minhashSignatures(s, d)
      .repartitionByRange(col("doc_id"))
      .sortWithinPartitions(col("doc_id"))
      .write.mode("overwrite").parquet(s"$path/sigs")

  /** Session-stable index location — the shared
    * SessionMemo stored-entry lifecycle (content-snapshot guard,
    * per-key build latch, deferred deletion of abandoned snapshots).
    */
  private[graft] def minhashIndex(s: SparkSession, d: String): String =
    graft.core.SessionMemo.stored(s, "minhash-index", d, Seq(s"$d/documents.parquet")) {
      path => buildMinhashIndex(s, d, path)
    }

  /** Candidate pairs served from the STORED signatures: the corpus text
    * is never read — the scan is the 48 B/doc signature table.
    */
  private[graft] def minhashSearchStored(s: SparkSession, path: String): DataFrame =
    candidatesFromSigs(s.read.parquet(s"$path/sigs"))

  /** Session-scoped memo of [[minhashCandidates]] (see
    * [[graft.core.SessionMemo]] for keying, snapshot invalidation, and
    * eviction): q_c1, q_c13 (dup clusters) and q_c19 (retention) all
    * consume the SAME deterministic candidate set, so within one
    * Verify/Bench session the shingle → minhash → band pipeline runs once
    * and its (tiny — O(candidate pairs), bytes not corpus-sized) result
    * frame is persisted and reused. The memo keys on a (path, mtime,
    * length) snapshot of documents.parquet, so rewriting the fixture at
    * the same path rebuilds instead of serving stale candidates.
    */
  def minhashCandidatesShared(s: SparkSession, d: String): DataFrame =
    graft.core.SessionMemo.getOrBuild(
      s, "minhash_cand", d, Seq(s"$d/documents.parquet"))(minhashCandidates(s, d))

  /** Test hook: whether the memo currently holds a candidate frame. */
  private[graft] def sharedCandOccupied: Boolean =
    graft.core.SessionMemo.occupied("minhash_cand")

  /** q_c47's verified cross-set pair frame (corpus doc × held-out doc,
    * shingle Jaccard ≥ 0.3), unordered — the held-out side (doc_id %
    * 17 = 3) is tiny, so its band keys and its shingle set both
    * BROADCAST and the corpus never shuffles on shingle or band key;
    * only matched rows reach the per-pair count.
    */
  private[graft] def fuzzyDecontamPairs(s: SparkSession, d: String): DataFrame = {
    val isBench = col("doc_id") % 17 === 3
    hashFns(s)
    val sh = shingles(s, d)
    // signature side from the composed gram-hash stream (min-invariant to
    // duplicates — see minhashSignatures); the exact verify below keeps
    // the distinct shingle STRINGS, where identity (not hashes) matters
    val h = Tables(s, d, "documents")
      .select(col("doc_id"), split(lower(col("text")), " ").as("ts"))
      .filter(size(col("ts")) >= 3)
      .select(col("doc_id"), explode(expr("gram_hashes(ts, 3)")).as("th"))
    val mhAggs = minhashParams.zipWithIndex.map { case ((a, b), i) =>
      min(expr(s"($a * th + $b) % 1000000007L")).as(s"mh$i")
    }
    val sig = h.groupBy(col("doc_id")).agg(mhAggs.head, mhAggs.tail: _*)
    val bands = (0 until 3)
      .map { bandIdx =>
        sig.select(
          col("doc_id"),
          lit(bandIdx).as("band"),
          concat_ws("_", col(s"mh${2 * bandIdx}"), col(s"mh${2 * bandIdx + 1}")).as("key"))
      }
      .reduce(_ unionByName _)
    val cand = bands.filter(!isBench)
      .join(
        broadcast(bands.filter(isBench)
          .select(col("doc_id").as("bench_id"), col("band"), col("key"))),
        Seq("band", "key"))
      .select(col("doc_id"), col("bench_id"))
      .distinct()
    val cnt = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val shr = sh.filter(!isBench)
      .join(
        broadcast(sh.filter(isBench)
          .select(col("doc_id").as("bench_id"), col("shingle"))),
        Seq("shingle"))
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("shared"))
    cand
      .join(shr, Seq("doc_id", "bench_id"))
      .join(cnt, Seq("doc_id"))
      .join(broadcast(cnt.select(col("doc_id").as("bench_id"), col("n_sh").as("n_b"))
        .filter(col("bench_id") % 17 === 3)), Seq("bench_id"))
      .select(col("doc_id"), col("bench_id"), col("shared"),
        (col("n_sh") + col("n_b") - col("shared")).as("uni"))
      .filter(col("shared") * 10 >= col("uni") * 3)
      .select(col("doc_id"), col("bench_id"), col("shared"), col("uni"),
        emit((dec(col("shared")) / dec(col("uni"))).cast(D38)).as("jaccard"))
  }

  /** Session-scoped memo of [[fuzzyDecontamPairs]] (the
    * minhashCandidatesShared discipline): q_c47 and q_c73 consume the
    * SAME deterministic pair frame, so within one session the cross-set
    * shingle → minhash → band → verify pipeline runs once and its tiny
    * (O(matched pairs)) result is reused.
    */
  private[graft] def fuzzyPairsShared(s: SparkSession, d: String): DataFrame =
    graft.core.SessionMemo.getOrBuild(
      s, "fuzzy_decon", d, Seq(s"$d/documents.parquet"))(fuzzyDecontamPairs(s, d))

  /** Test hook: whether the memo currently holds the fuzzy pair frame. */
  private[graft] def fuzzySharedOccupied: Boolean =
    graft.core.SessionMemo.occupied("fuzzy_decon")

  /** DuckDB CTE chain ending in `fz(doc_id, bench_id, shared, uni,
    * jaccard)` — the oracle twin of [[fuzzyDecontamPairs]], shared by
    * q_c47's and q_c73's oracles.
    */
  lazy val duckFuzzyPairs: String = {
    val mhCols = minhashParams.zipWithIndex
      .map { case ((a, b), i) => s"MIN(($a * th + $b) % 1000000007) AS mh$i" }
      .mkString(", ")
    s"""$duckShingles,
       |h AS (SELECT doc_id, ${duckRollingHash("shingle")} AS th FROM sh),
       |sig AS (SELECT doc_id, $mhCols FROM h GROUP BY doc_id),
       |bands AS (
       |  SELECT doc_id, 0 AS band, mh0 || '_' || mh1 AS key FROM sig
       |  UNION ALL SELECT doc_id, 1, mh2 || '_' || mh3 FROM sig
       |  UNION ALL SELECT doc_id, 2, mh4 || '_' || mh5 FROM sig),
       |cand AS (
       |  SELECT DISTINCT a.doc_id, b.doc_id AS bench_id
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
       |  WHERE a.doc_id % 17 <> 3 AND b.doc_id % 17 = 3),
       |cnt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM sh GROUP BY 1),
       |shr AS (
       |  SELECT a.doc_id, b.doc_id AS bench_id, CAST(COUNT(*) AS BIGINT) AS shared
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle
       |  WHERE a.doc_id % 17 <> 3 AND b.doc_id % 17 = 3
       |  GROUP BY 1, 2),
       |jf AS (
       |  SELECT c.doc_id, c.bench_id, s.shared,
       |         ca.n_sh + cb.n_sh - s.shared AS uni
       |  FROM cand c
       |  JOIN shr s ON c.doc_id = s.doc_id AND c.bench_id = s.bench_id
       |  JOIN cnt ca ON c.doc_id = ca.doc_id
       |  JOIN cnt cb ON c.bench_id = cb.doc_id),
       |fz AS (
       |  SELECT doc_id, bench_id, shared, CAST(uni AS BIGINT) AS uni,
       |    CAST(CAST(CAST(shared AS DECIMAL(18,6)) / CAST(uni AS DECIMAL(18,6)) AS DECIMAL(38,6)) AS DOUBLE) AS jaccard
       |  FROM jf WHERE shared * 10 >= uni * 3)""".stripMargin
  }

  /** DuckDB CTE chain ending in `cand(doc_a, doc_b)` — the oracle twin of
    * [[minhashCandidates]], shared by q_c1's and q_c13's oracles.
    */
  lazy val duckMinhashCand: String = {
    val mhCols = minhashParams.zipWithIndex
      .map { case ((a, b), i) => s"MIN(($a * th + $b) % 1000000007) AS mh$i" }
      .mkString(", ")
    s"""$duckShingles,
       |h AS (SELECT doc_id, ${duckRollingHash("shingle")} AS th FROM sh),
       |sig AS (SELECT doc_id, $mhCols FROM h GROUP BY doc_id),
       |bands AS (
       |  SELECT doc_id, 0 AS band, mh0 || '_' || mh1 AS key FROM sig
       |  UNION ALL SELECT doc_id, 1, mh2 || '_' || mh3 FROM sig
       |  UNION ALL SELECT doc_id, 2, mh4 || '_' || mh5 FROM sig),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(
    // ---- Q-B5: exact dedup on content hash -------------------------------
    QueryDef(
      "q_b5_dedup_exact",
      Some("""SELECT md5(text) AS text_hash, MIN(doc_id) AS keep_doc_id,
             |       COUNT(*) AS dup_count
             |FROM documents GROUP BY md5(text)
             |ORDER BY text_hash""".stripMargin)
    ) { (s, d) =>
      Tables(s, d, "documents")
        .groupBy(md5(col("text")).as("text_hash"))
        .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("dup_count"))
        .orderBy(col("text_hash"))
    },

    // ---- Q-B6: word-shingle Jaccard near-dup pairs -----------------------
    QueryDef(
      "q_b6_jaccard_neardup",
      Some(s"""WITH $duckJaccardPairs
              |SELECT doc_a, doc_b, shared, uni,
              |  CAST(CAST(CAST(shared AS DECIMAL(18,6)) / CAST(uni AS DECIMAL(18,6)) AS DECIMAL(38,6)) AS DOUBLE) AS jaccard
              |FROM jp
              |ORDER BY doc_a, doc_b""".stripMargin)
    ) { (s, d) =>
      verifiedJaccardPairs(s, d)
        .select(
          col("doc_a"),
          col("doc_b"),
          col("shared"),
          col("uni"),
          emit((dec(col("shared")) / dec(col("uni"))).cast(D38)).as("jaccard")
        )
        .orderBy(col("doc_a"), col("doc_b"))
    },

    // ---- MinHash + LSH banded candidate pairs ----------------------------
    // The full scale path: 3-word shingles → 6 minhash permutations
    // h_i(x) = (a_i·x + b_i) mod 1e9+7 over rolling-hashed shingles →
    // 3 bands of 2 rows → candidates = docs sharing ≥1 band key.
    // Shingles (not unigrams) are essential: the corpus vocabulary is
    // tiny, so unigram sets are near-identical across docs and unigram
    // LSH would degenerate to all-pairs.
    QueryDef(
      "q_c1_minhash_lsh",
      Some(s"""WITH $duckMinhashCand
              |SELECT doc_a, doc_b FROM cand ORDER BY doc_a, doc_b""".stripMargin)
    ) { (s, d) =>
      minhashCandidatesShared(s, d).orderBy(col("doc_a"), col("doc_b"))
    },

    // ---- SimHash fingerprints (16-bit, token-count-weighted) -------------
    QueryDef(
      "q_c2_simhash",
      Some(s"""WITH toks AS (
              |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents),
              |h AS (SELECT doc_id, ${duckRollingHash("tok")} AS th FROM toks),
              |bits AS (
              |  SELECT doc_id, k,
              |         SUM(CASE WHEN (th >> CAST(k AS INTEGER)) & 1 = 1 THEN 1 ELSE -1 END) AS s
              |  FROM h, range(16) r(k) GROUP BY doc_id, k),
              |fp AS (
              |  SELECT doc_id,
              |         CAST(SUM(CASE WHEN s > 0 THEN 1 << CAST(k AS INTEGER) ELSE 0 END) AS BIGINT) AS simhash
              |  FROM bits GROUP BY doc_id)
              |SELECT doc_id, simhash FROM fp ORDER BY doc_id""".stripMargin)
    ) { (s, d) =>
      // 16 conditional-sum COLUMNS in one doc-keyed aggregation, not an
      // explode(sequence(0,15)): the exploded form shuffled 16× the token
      // rows and co-located the rolling-hash projection with a Generate,
      // re-evaluating it per emitted k under codegen (see PERF.md round
      // 8). One shuffle on doc_id, map-side-combined wide partials; th is
      // referenced 16× so Catalyst keeps its Project un-collapsed (one
      // hash per token row).
      hashFns(s)
      val toks = Tables(s, d, "documents")
        .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("tok"))
      val h = toks.select(col("doc_id"), expr(rollingHash("tok")).as("th"))
      val bitSums = (0 until 16).map(k =>
        sum(when(expr(s"(th >> $k) & 1") === 1, 1L).otherwise(-1L)).as(s"s$k"))
      h.groupBy(col("doc_id"))
        .agg(bitSums.head, bitSums.tail: _*)
        .select(
          col("doc_id"),
          (0 until 16)
            .map(k => when(col(s"s$k") > 0, lit(1L << k)).otherwise(0L))
            .reduce(_ + _)
            .cast("long")
            .as("simhash"))
        .orderBy(col("doc_id"))
    },

    // ---- char-5-gram Jaccard near-dup, blocked by source -----------------
    // Blocking by `source` bounds the candidate space (the standard
    // pre-partitioning move before a quadratic comparison at scale).
    QueryDef(
      "q_c3_ngram_jaccard",
      Some("""WITH ks AS (
             |  SELECT doc_id, source, text, unnest(range(length(text) - 4)) AS k
             |  FROM documents WHERE length(text) >= 5),
             |g AS (
             |  SELECT DISTINCT doc_id, source, substr(text, CAST(k AS INTEGER) + 1, 5) AS gram
             |  FROM ks),
             |cnt AS (SELECT doc_id, COUNT(*) AS n_g FROM g GROUP BY doc_id),
             |pairs AS (
             |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
             |  FROM g a JOIN g b
             |    ON a.source = b.source AND a.gram = b.gram AND a.doc_id < b.doc_id
             |  GROUP BY a.doc_id, b.doc_id),
             |j AS (
             |  SELECT doc_a, doc_b, shared, ca.n_g + cb.n_g - shared AS uni
             |  FROM pairs JOIN cnt ca ON doc_a = ca.doc_id JOIN cnt cb ON doc_b = cb.doc_id)
             |SELECT doc_a, doc_b, shared, uni
             |FROM j WHERE shared * 10 >= uni * 6
             |ORDER BY doc_a, doc_b""".stripMargin)
    ) { (s, d) =>
      // Exact AllPairs prefix filtering (see allPairsJaccard): index only
      // each doc's rarest p = n − ⌈τ·n⌉ + 1 grams; any pair with Jaccard
      // ≥ τ MUST collide inside these prefixes, so the candidate join
      // shrinks ~70× (38M → 0.5M pairs at sf0.1) while the exact verify
      // step reproduces the naive join's output bit-for-bit (the DuckDB
      // oracle stays the naive formulation). The `source` blocking column
      // is folded into the set element with a NUL separator: frequency,
      // dictionary id, and the candidate join key are all per
      // (source, gram), so distinct sources never collide — joining on
      // gid alone enforces the blocking.
      val keyed = Tables(s, d, "documents")
        .filter(length(col("text")) >= 5)
        .select(
          col("doc_id"),
          explode(
            expr(
              "array_distinct(transform(sequence(1, length(text) - 4)," +
                " i -> concat(source, char(0), substr(text, i, 5))))"
            )
          ).as("key")
        )
      allPairsJaccard(
        s, d, "garr_char5_source",
        keyed,
        col("n_g") - expr("(6 * n_g + 9) DIV 10") + 1,
        tau10 = 6)
        .select(col("doc_a"), col("doc_b"), col("shared"), col("uni"))
        .orderBy(col("doc_a"), col("doc_b"))
    },

    // ---- q_c47: fuzzy (MinHash) benchmark decontamination ----------------
    // The near-duplicate complement of q_c24's exact 13-gram overlap:
    // paraphrased or lightly-edited benchmark leakage shares most of a
    // document's shingle set without sharing any exact 13-gram, so
    // decontamination pipelines ALSO run a fuzzy pass — corpus docs whose
    // whole-document shingle Jaccard against any held-out doc clears a
    // low τ = 0.3. Candidates come from the SAME 3-band MinHash pipeline
    // as q_c1, but cross-set: the held-out side (doc_id % 17 = 3) is
    // tiny, so its band keys and its shingle set both BROADCAST — the
    // corpus never shuffles on shingle or band key (the q_c24/q_c27
    // asymmetry), only matched rows reach the per-pair count. Exact
    // verification (integer shared/uni algebra) keeps the oracle
    // hash-exact; the LSH stage only gates which pairs are REPORTED,
    // mirroring q_c1's contract.
    QueryDef(
      "q_c47_fuzzy_decontaminate",
      Some(s"""WITH $duckFuzzyPairs
              |SELECT doc_id, bench_id, shared, uni, jaccard FROM fz
              |ORDER BY doc_id, bench_id""".stripMargin)
    ) { (s, d) =>
      fuzzyPairsShared(s, d).orderBy(col("doc_id"), col("bench_id"))
    },

    // ---- q_c73: per-held-out contamination report ------------------------
    // The fusion artifact a decontamination pipeline actually ships: ONE
    // row per held-out (benchmark) document, fusing the exact signal
    // (how many of ITS distinct 13-grams occur anywhere in the corpus —
    // q_c24's machinery pointed the other way) with the fuzzy signal
    // (q_c47's verified Jaccard ≥ 0.3 partners, served from the shared
    // session memo so the cross-set LSH pipeline runs once per session)
    // into a verdict: 'exact' ≻ 'fuzzy' ≻ 'clean'. Same 100 TB
    // asymmetry as both parents: every per-gram/per-pair structure here
    // is keyed on the TINY held-out side and broadcast — the corpus
    // streams through hash-probe joins, shuffling only matched rows,
    // and the held-out frame the report is keyed on is itself O(bench).
    QueryDef(
      "q_c73_contamination_report",
      Some(s"""WITH $duckFuzzyPairs,
              |bg AS (
              |  SELECT DISTINCT doc_id AS bench_id, array_to_string(t[k+1 : k+13], ' ') AS ng
              |  FROM (SELECT doc_id, t, unnest(range(greatest(len(t) - 12, 0))) AS k
              |        FROM toks WHERE doc_id % 17 = 3)),
              |bn AS (SELECT bench_id, CAST(COUNT(*) AS BIGINT) AS n_grams FROM bg GROUP BY 1),
              |cg AS (
              |  SELECT doc_id, array_to_string(t[k+1 : k+13], ' ') AS ng
              |  FROM (SELECT doc_id, t, unnest(range(greatest(len(t) - 12, 0))) AS k
              |        FROM toks WHERE doc_id % 17 <> 3)),
              |hit AS (
              |  SELECT bg.bench_id, CAST(COUNT(DISTINCT bg.ng) AS BIGINT) AS n_hit_grams,
              |         CAST(COUNT(DISTINCT cg.doc_id) AS BIGINT) AS n_exact_partners
              |  FROM cg JOIN bg ON cg.ng = bg.ng GROUP BY 1),
              |fzagg AS (
              |  SELECT bench_id, CAST(COUNT(*) AS BIGINT) AS n_fuzzy_partners,
              |         MAX(jaccard) AS max_jaccard
              |  FROM fz GROUP BY 1),
              |bd AS (SELECT doc_id AS bench_id FROM documents WHERE doc_id % 17 = 3)
              |SELECT bd.bench_id,
              |  CAST(COALESCE(bn.n_grams, 0) AS BIGINT) AS n_grams,
              |  CAST(COALESCE(hit.n_hit_grams, 0) AS BIGINT) AS n_hit_grams,
              |  CAST(COALESCE(hit.n_exact_partners, 0) AS BIGINT) AS n_exact_partners,
              |  CAST(COALESCE(fzagg.n_fuzzy_partners, 0) AS BIGINT) AS n_fuzzy_partners,
              |  CAST(COALESCE(fzagg.max_jaccard, 0.0) AS DOUBLE) AS max_jaccard,
              |  CASE WHEN COALESCE(hit.n_hit_grams, 0) > 0 THEN 'exact'
              |       WHEN COALESCE(fzagg.n_fuzzy_partners, 0) > 0 THEN 'fuzzy'
              |       ELSE 'clean' END AS verdict
              |FROM bd
              |LEFT JOIN bn ON bd.bench_id = bn.bench_id
              |LEFT JOIN hit ON bd.bench_id = hit.bench_id
              |LEFT JOIN fzagg ON bd.bench_id = fzagg.bench_id
              |ORDER BY bd.bench_id""".stripMargin)
    ) { (s, d) =>
      val n = 13
      val isBench = col("doc_id") % 17 === 3
      val toks = Tables(s, d, "documents")
        .select(col("doc_id"), split(lower(col("text")), " ").as("ts"))
      // guarded gram generator (the q_c24 rule: short docs survive with
      // an empty array, and the chunker stays in the Generate INPUT)
      val grams = when(size(col("ts")) >= n, expr(
        s"transform(sequence(0, size(ts) - $n), k -> array_join(slice(ts, k + 1, $n), ' '))"))
        .otherwise(expr("array()"))
      val bg = toks.filter(isBench)
        .select(col("doc_id").as("bench_id"), explode(grams).as("ng"))
        .distinct()
      val bn = bg.groupBy(col("bench_id")).agg(count(lit(1)).as("n_grams"))
      val hits = toks.filter(!isBench)
        .select(col("doc_id"), explode(grams).as("ng"))
        .join(broadcast(bg), Seq("ng"))
        .groupBy(col("bench_id"))
        .agg(countDistinct(col("ng")).as("n_hit_grams"),
          countDistinct(col("doc_id")).as("n_exact_partners"))
      val fz = fuzzyPairsShared(s, d)
        .groupBy(col("bench_id"))
        .agg(count(lit(1)).as("n_fuzzy_partners"), max(col("jaccard")).as("max_jaccard"))
      Tables(s, d, "documents").filter(isBench)
        .select(col("doc_id").as("bench_id"))
        .join(broadcast(bn), Seq("bench_id"), "left")
        .join(broadcast(hits), Seq("bench_id"), "left")
        .join(broadcast(fz), Seq("bench_id"), "left")
        .select(col("bench_id"),
          coalesce(col("n_grams"), lit(0L)).as("n_grams"),
          coalesce(col("n_hit_grams"), lit(0L)).as("n_hit_grams"),
          coalesce(col("n_exact_partners"), lit(0L)).as("n_exact_partners"),
          coalesce(col("n_fuzzy_partners"), lit(0L)).as("n_fuzzy_partners"),
          coalesce(col("max_jaccard"), lit(0.0)).as("max_jaccard"),
          when(coalesce(col("n_hit_grams"), lit(0L)) > 0, "exact")
            .when(coalesce(col("n_fuzzy_partners"), lit(0L)) > 0, "fuzzy")
            .otherwise("clean").as("verdict"))
        .orderBy(col("bench_id"))
    },

    // ---- q_c48: exact-substring duplication coverage ---------------------
    // The arbitrary-offset exact-substring dedup signal (Lee et al. 2022,
    // "Deduplicating Training Data Makes Language Models Better"): a
    // duplicated span of ≥ L tokens exists at a position iff some L-gram
    // through that position occurs ≥ 2 times corpus-wide — so per
    // document we report how many token positions are COVERED by a
    // duplicated-≥L span (the fraction ExactSubstr would cut), which
    // none of the existing passes see (q_b5 is whole-doc, q_c20 fixed
    // 8-token chunks, q_c24/q_c27 benchmark-relative).
    //
    // Shape: positional L-grams (NOT distinct — positions matter) →
    // corpus-wide gram counts (one Heaps-ish gram-keyed shuffle, the
    // q_c24 class) → duplicated positions per doc (small: only grams
    // occurring twice anywhere) → coverage = |union of [k, k+L-1]|
    // computed by a PER-DOC SORTED FOLD over the duplicated starts
    // (sort_array + one interval-union aggregate — O(dup positions) per
    // doc; the first version joined every token position against every
    // dup start with a range predicate, which is |pos|·|dupk| rows per
    // doc BEFORE filtering — quadratic on heavily-duplicated documents,
    // the exact docs this query exists to flag). The oracle keeps the
    // relational range-join form (same values). Integer throughout.
    QueryDef(
      "q_c48_substr_dedup",
      Some("""WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS ts FROM documents),
             |g AS (
             |  SELECT doc_id, k, array_to_string(ts[k+1 : k+15], ' ') AS gram
             |  FROM (SELECT doc_id, ts, unnest(range(len(ts) - 14)) AS k
             |        FROM t WHERE len(ts) >= 15)),
             |gc AS (SELECT gram, COUNT(*) AS cnt FROM g GROUP BY 1),
             |dupk AS (SELECT g.doc_id, g.k FROM g JOIN gc USING (gram) WHERE gc.cnt >= 2),
             |nd AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup_grams FROM dupk GROUP BY 1),
             |pos AS (SELECT doc_id, unnest(range(len(ts))) AS p FROM t),
             |cov AS (
             |  SELECT DISTINCT pos.doc_id, pos.p
             |  FROM pos JOIN dupk ON pos.doc_id = dupk.doc_id
             |    AND dupk.k <= pos.p AND pos.p <= dupk.k + 14),
             |nc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_cov_tokens FROM cov GROUP BY 1)
             |SELECT t.doc_id, CAST(len(t.ts) AS BIGINT) AS n_tokens,
             |  COALESCE(nd.n_dup_grams, 0) AS n_dup_grams,
             |  COALESCE(nc.n_cov_tokens, 0) AS n_cov_tokens,
             |  CAST(CASE WHEN len(t.ts) = 0 THEN CAST(0 AS DECIMAL(38,6))
             |       ELSE CAST(CAST(COALESCE(nc.n_cov_tokens, 0) AS DECIMAL(18,6))
             |            / CAST(len(t.ts) AS DECIMAL(18,6)) AS DECIMAL(38,6)) END AS DOUBLE) AS cov_ratio
             |FROM t LEFT JOIN nd ON t.doc_id = nd.doc_id
             |LEFT JOIN nc ON t.doc_id = nc.doc_id
             |ORDER BY t.doc_id""".stripMargin)
    ) { (s, d) =>
      val L = 15
      val t = Tables(s, d, "documents")
        .select(col("doc_id"), split(lower(col("text")), " ").as("ts"))
      val g = t.filter(size(col("ts")) >= L)
        .select(col("doc_id"), explode(expr(
          s"transform(sequence(0, size(ts) - $L), k -> " +
            s"struct(k, array_join(slice(ts, k + 1, $L), ' ') AS gram))")).as("x"))
        .select(col("doc_id"), col("x.k").as("k"), col("x.gram").as("gram"))
      val gc = g.groupBy(col("gram")).agg(count(lit(1)).as("cnt"))
      val dupk = g.join(gc.filter(col("cnt") >= 2), Seq("gram"))
        .select(col("doc_id"), col("k"))
      // ONE aggregation computes BOTH per-doc statistics (optimization
      // round 18): n_dup_grams is exactly size(ks), so the previous
      // separate count aggregation — whose upstream explode+join subtree
      // differs from the collect_list branch's and is therefore
      // re-executed, not AQE-stage-reused — is derived from the same
      // collected array instead (one explode+join pass and one doc_id
      // exchange fewer; measured isolated A/B in OPTIMIZATION_r18.md).
      // Interval union over the SORTED dup starts: each start k covers
      // [k, k+L-1]; with ascending ks, the new coverage a start adds is
      // (k + L - 1) - max(prevEnd, k - 1) — a single integer fold
      val ncd = dupk.groupBy(col("doc_id"))
        .agg(expr("sort_array(collect_list(k))").as("ks"))
        .select(col("doc_id"), size(col("ks")).cast("long").as("n_dup_grams"),
          expr(
          s"""aggregate(ks,
             |  named_struct('cov', CAST(0 AS BIGINT), 'pe', CAST(-1 AS BIGINT)),
             |  (a, k) -> named_struct(
             |    'cov', a.cov + (k + ${L - 1} - greatest(a.pe, k - 1)),
             |    'pe', k + CAST(${L - 1} AS BIGINT)),
             |  a -> a.cov)""".stripMargin).as("n_cov_tokens"))
      t.select(col("doc_id"), size(col("ts")).cast("long").as("n_tokens"))
        .join(ncd, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          coalesce(col("n_dup_grams"), lit(0L)).as("n_dup_grams"),
          coalesce(col("n_cov_tokens"), lit(0L)).as("n_cov_tokens"),
          emit(
            when(col("n_tokens") === 0, lit(0).cast(D38))
              .otherwise((dec(coalesce(col("n_cov_tokens"), lit(0L))) / dec(col("n_tokens"))).cast(D38)))
            .as("cov_ratio"))
        .orderBy(col("doc_id"))
    },

    // ---- q_c55: n-gram novelty / memorization scoring --------------------
    // The ingestion-order novelty signal (the memorization-risk side of
    // the Lee et al. duplication coin): per document, the fraction of its
    // positional 8-grams whose corpus-wide FIRST occurrence (minimum
    // doc_id — ingestion order on this corpus) is this document. A
    // near-zero novelty score marks a document assembled almost entirely
    // from text already seen earlier in the corpus — the dedup-aware
    // sampling signal that q_c48's coverage (position-duplication,
    // order-blind) does not provide. Docs under 8 tokens score 0 with
    // n_grams = 0.
    //
    // 100 TB shape: the same positional-gram machinery as q_c48 — one
    // Heaps-ish gram-keyed shuffle with map-side combine for the
    // first-occurrence MIN, then the gram→first_doc table joins back to
    // the per-doc gram counts (second gram-keyed shuffle; both sides
    // pre-aggregated to distinct grams per doc side, so no positional
    // amplification). Integer counts, one decimal ratio — hash-exact.
    QueryDef(
      "q_c55_ngram_novelty",
      Some("""WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS ts FROM documents),
             |g AS (
             |  SELECT doc_id, array_to_string(ts[k+1 : k+8], ' ') AS gram
             |  FROM (SELECT doc_id, ts, unnest(range(len(ts) - 7)) AS k
             |        FROM t WHERE len(ts) >= 8)),
             |fo AS (SELECT gram, MIN(doc_id) AS first_doc FROM g GROUP BY 1),
             |pg AS (SELECT doc_id, gram, CAST(COUNT(*) AS BIGINT) AS cnt FROM g GROUP BY 1, 2),
             |agg AS (
             |  SELECT pg.doc_id,
             |    CAST(SUM(pg.cnt) AS BIGINT) AS n_grams,
             |    CAST(SUM(CASE WHEN fo.first_doc = pg.doc_id THEN pg.cnt ELSE 0 END) AS BIGINT) AS n_novel
             |  FROM pg JOIN fo USING (gram) GROUP BY 1)
             |SELECT t.doc_id,
             |  COALESCE(agg.n_grams, 0) AS n_grams,
             |  COALESCE(agg.n_novel, 0) AS n_novel,
             |  CAST(CASE WHEN COALESCE(agg.n_grams, 0) = 0 THEN CAST(0 AS DECIMAL(38,6))
             |       ELSE CAST(CAST(agg.n_novel AS DECIMAL(18,6))
             |            / CAST(agg.n_grams AS DECIMAL(18,6)) AS DECIMAL(38,6)) END AS DOUBLE) AS novelty
             |FROM t LEFT JOIN agg ON t.doc_id = agg.doc_id
             |ORDER BY t.doc_id""".stripMargin)
    ) { (s, d) =>
      val L = 8
      val t = Tables(s, d, "documents")
        .select(col("doc_id"), split(lower(col("text")), " ").as("ts"))
      val g = t.filter(size(col("ts")) >= L)
        .select(col("doc_id"), explode(expr(
          s"transform(sequence(0, size(ts) - $L), k -> " +
            s"array_join(slice(ts, k + 1, $L), ' '))")).as("gram"))
      // per-doc distinct-gram counts FIRST (positions never amplify),
      // then first_doc as a WINDOW MIN over the gram partition rather
      // than an aggregate + self-join: the join form makes Catalyst
      // duplicate the whole explode subtree (plan sharing can't dedupe
      // branches with different pruning — the q_c26 lesson), tokenizing
      // the corpus TWICE; the window form explodes once and shuffles on
      // gram once (PlanShapeSpec pins the single Generate)
      val pg = g.groupBy(col("doc_id"), col("gram")).agg(count(lit(1)).as("cnt"))
      val agg = pg
        .withColumn("first_doc", min(col("doc_id")).over(Window.partitionBy(col("gram"))))
        .groupBy(col("doc_id"))
        .agg(
          sum(col("cnt")).cast("long").as("n_grams"),
          sum(when(col("first_doc") === col("doc_id"), col("cnt")).otherwise(0L))
            .cast("long").as("n_novel"))
      t.select(col("doc_id"))
        .join(agg, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_grams"), lit(0L)).as("n_grams"),
          coalesce(col("n_novel"), lit(0L)).as("n_novel"),
          emit(
            when(coalesce(col("n_grams"), lit(0L)) === 0, lit(0).cast(D38))
              .otherwise((dec(col("n_novel")) / dec(col("n_grams"))).cast(D38)))
            .as("novelty"))
        .orderBy(col("doc_id"))
    },

    // ---- q_c66: LSH candidates from the STORED signature index -----------
    // q_c1's execution-strategy rewrite (the q_c45/int8 index-lifecycle
    // class): per-doc MinHash signatures are computed ONCE at ingest and
    // stored (48 B/doc, range-partitioned by doc_id); every subsequent
    // dedup run serves candidate generation from the signature table
    // without touching the corpus text — at 100 TB the re-shingling scan
    // is the dominant dedup cost and it disappears from the steady
    // state. Same oracle as q_c1; StoredMinhashSpec pins stored ≡
    // derived ≡ oracle and that a warm session reuses the index.
    QueryDef(
      "q_c66_minhash_stored",
      Some(s"""WITH $duckMinhashCand
              |SELECT doc_a, doc_b FROM cand ORDER BY doc_a, doc_b""".stripMargin)
    ) { (s, d) =>
      minhashSearchStored(s, minhashIndex(s, d)).orderBy(col("doc_a"), col("doc_b"))
    },

    // ---- q_c68: incremental signature-index append ------------------------
    // The ingest-lifecycle step q_c66 presumes: when a batch arrives
    // (doc_id % 10 = 3 here), its signatures are computed from the BATCH
    // TEXT ONLY and unioned with the stored base index — the base corpus
    // text is never re-read and the index is never rebuilt. MinHash
    // signatures are per-document (no cross-document state), so
    // append ≡ rebuild EXACTLY, and the oracle is the full-corpus q_c1
    // CTE — the hash match IS the proof that incremental maintenance
    // loses nothing. Candidate generation over the union reuses the same
    // banded join as q_c1/q_c66.
    QueryDef(
      "q_c68_minhash_append",
      Some(s"""WITH $duckMinhashCand
              |SELECT doc_a, doc_b FROM cand ORDER BY doc_a, doc_b""".stripMargin)
    ) { (s, d) =>
      val baseSigs = s.read.parquet(s"${minhashBaseIndex(s, d)}/sigs")
      val batchSigs = minhashSignatures(s, d)
        .filter(col("doc_id") % 10 === 3)
      candidatesFromSigs(baseSigs.unionByName(batchSigs))
        .orderBy(col("doc_a"), col("doc_b"))
    },

    // ---- q_c129: signature-segment compaction -------------------------------
    // The compaction verb for the THIRD index family: per-batch
    // signature segments (48 B/doc rows, per-document state only) merge
    // back into one doc_id-range-sorted table, restoring the point-
    // lookup/merge-join pruning a q_c68-style segment accumulation
    // erodes (k files per doc-range probe, min/max spans interleaved).
    // The merge reads ONLY the stored segments — signatures are never
    // recomputed and the corpus text is never touched — and candidates
    // off the compacted table carry the full-corpus q_c1 oracle: with
    // BM25 (q_c123), phrase (q_c128) and MinHash all compacting
    // exactly, the build/search/append/compact lifecycle is a property
    // of the stored-index DISCIPLINE (no cross-document stored state
    // except additive scalars), not of any one index.
    QueryDef(
      "q_c129_minhash_compacted",
      Some(s"""WITH $duckMinhashCand
              |SELECT doc_a, doc_b FROM cand ORDER BY doc_a, doc_b""".stripMargin)
    ) { (s, d) =>
      minhashSearchStored(s, minhashCompactedIndex(s, minhashSegmentsIndex(s, d)))
        .orderBy(col("doc_a"), col("doc_b"))
    },

    // ---- q_c75: winnowing fingerprint overlap (MOSS) ----------------------
    // Robust local fingerprinting (Schleimer, Wilkerson & Aho, SIGMOD
    // 2003 — the MOSS plagiarism detector): per document, hash every
    // word-3-gram IN SEQUENCE, slide a window of w=4 over the hash
    // stream, and keep the set of window MINIMA. The selection is
    // position-robust — unlike q_c8's whole-doc fingerprint, an
    // insertion far from a copied span cannot change the span's selected
    // hashes — and carries winnowing's detection GUARANTEE: any shared
    // run of ≥ w+k-1 = 6 words produces a shared fingerprint
    // (WinnowingSpec pins it). Documents sharing ≥ 2 fingerprints are
    // reported as overlap pairs.
    //
    // 100 TB shape: fingerprint selection is map-only (per-row array
    // fold, density ≈ 2/(w+1) of grams, distinct'd per doc); the pair
    // join keys on fingerprints AFTER a stop-fingerprint prune (df > 50
    // — boilerplate phrases selected in thousands of docs would square
    // the join fan-out; value-relevant near-dup fingerprints stay far
    // under the cap), so per-key fan-out is bounded by 50²/2 and only
    // (doc, fp) id-pairs ever shuffle.
    QueryDef(
      "q_c75_winnow_fingerprint",
      Some(s"""WITH $duckWinnowPairs
              |SELECT doc_a, doc_b, shared_fp FROM wp
              |ORDER BY doc_a, doc_b""".stripMargin)
    ) { (s, d) =>
      winnowPairs(s, d).orderBy(col("doc_a"), col("doc_b"))
    },

    // ---- q_c78: containment-based decontamination -------------------------
    // The ASYMMETRIC overlap geometry q_c47's Jaccard misses: a long
    // corpus document that swallows a short benchmark document whole has
    // containment C = |A∩B| / |B| ≈ 1 but Jaccard ≈ |B|/|A| ≈ 0 — so a
    // Jaccard-thresholded decontaminator never flags exactly the most
    // damaging inclusion case. This query scores every (corpus,
    // held-out) pair sharing a shingle by containment of the HELD-OUT
    // side (same % 17 = 3 slice as q_c47, so the two geometries are
    // comparable per benchmark doc) and keeps C ≥ 0.5 — evaluated in
    // integer arithmetic (shared·2 ≥ n_b), never floats.
    //
    // 100 TB shape: the held-out side is MBs against a TB corpus, so its
    // shingle set BROADCASTS and the corpus streams through the hash
    // join (zero corpus shuffle on shingle); only matched (doc, bench)
    // id-pairs reach the per-pair count; per-bench shingle counts are a
    // tiny broadcast.
    QueryDef(
      "q_c78_containment_decon",
      Some(s"""WITH $duckShingles,
              |cb AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_b
              |       FROM sh WHERE doc_id % 17 = 3 GROUP BY 1),
              |shr AS (SELECT a.doc_id, b.doc_id AS bench_id,
              |               CAST(COUNT(*) AS BIGINT) AS shared
              |        FROM sh a JOIN sh b ON a.shingle = b.shingle
              |        WHERE a.doc_id % 17 <> 3 AND b.doc_id % 17 = 3
              |        GROUP BY 1, 2)
              |SELECT s.doc_id, s.bench_id, s.shared, c.n_b,
              |  CAST(CAST(CAST(s.shared AS DECIMAL(18,6)) / CAST(c.n_b AS DECIMAL(18,6))
              |    AS DECIMAL(38,6)) AS DOUBLE) AS containment
              |FROM shr s JOIN cb c ON c.doc_id = s.bench_id
              |WHERE s.shared * 2 >= c.n_b
              |ORDER BY s.doc_id, s.bench_id""".stripMargin)
    ) { (s, d) =>
      val sh = shingles(s, d)
      val cb = sh.filter(benchSlice)
        .groupBy(col("doc_id")).agg(count(lit(1)).cast("long").as("n_b"))
      sh.filter(!benchSlice)
        .join(
          broadcast(sh.filter(benchSlice)
            .select(col("doc_id").as("bench_id"), col("shingle"))),
          Seq("shingle"))
        .groupBy(col("doc_id"), col("bench_id"))
        .agg(count(lit(1)).cast("long").as("shared"))
        .join(broadcast(cb.select(col("doc_id").as("bench_id"), col("n_b"))),
          Seq("bench_id"))
        .filter(col("shared") * 2 >= col("n_b"))
        .select(col("doc_id"), col("bench_id"), col("shared"), col("n_b"),
          emit((dec(col("shared")) / dec(col("n_b"))).cast(D38)).as("containment"))
        .orderBy(col("doc_id"), col("bench_id"))
    },

    // ---- q_c85: candidate-generator agreement report ----------------------
    // The engine ships THREE independent near-dup candidate generators —
    // MinHash LSH bands (q_c1), winnowing fingerprint overlap (q_c75),
    // and the exact AllPairs-verified τ=0.5 Jaccard pairs (q_b6). This
    // report is the contingency table a pipeline owner reads to pick
    // one: every pair found by any generator, bucketed by WHICH
    // generators found it (a 7-cell presence mask). Against the exact
    // column it reads as recall (bands are probabilistic, winnowing is
    // positional — each misses a different geometry); between the two
    // approximate generators it reads as complementarity.
    //
    // 100 TB shape: each generator already carries its own scale story
    // (banding / fingerprint-prune / prefix-filter); the union frame
    // holds only id-pairs + three 0/1 flags, one (doc_a, doc_b)-keyed
    // agg, and the output is ≤ 7 rows.
    QueryDef(
      "q_c85_candidate_agreement",
      Some(s"""WITH $duckMinhashCand,
              |$duckJaccardTail,
              |$duckWinnowPairs,
              |u AS (
              |  SELECT doc_a, doc_b, 1 AS f1, 0 AS f2, 0 AS f3 FROM cand
              |  UNION ALL SELECT doc_a, doc_b, 0, 1, 0 FROM wp
              |  UNION ALL SELECT doc_a, doc_b, 0, 0, 1 FROM jp),
              |m AS (SELECT doc_a, doc_b, MAX(f1) AS f1, MAX(f2) AS f2, MAX(f3) AS f3
              |      FROM u GROUP BY 1, 2)
              |SELECT CAST(f1 AS INT) AS in_minhash, CAST(f2 AS INT) AS in_winnow,
              |       CAST(f3 AS INT) AS in_jaccard, CAST(COUNT(*) AS BIGINT) AS n_pairs
              |FROM m GROUP BY 1, 2, 3
              |ORDER BY in_minhash, in_winnow, in_jaccard""".stripMargin)
    ) { (s, d) =>
      def tag(df: DataFrame, f1: Int, f2: Int, f3: Int) =
        df.select(col("doc_a"), col("doc_b"),
          lit(f1).as("f1"), lit(f2).as("f2"), lit(f3).as("f3"))
      tag(minhashCandidatesShared(s, d), 1, 0, 0)
        .unionByName(tag(winnowPairs(s, d), 0, 1, 0))
        .unionByName(tag(verifiedJaccardPairs(s, d), 0, 0, 1))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(max(col("f1")).as("f1"), max(col("f2")).as("f2"), max(col("f3")).as("f3"))
        .groupBy(col("f1").as("in_minhash"), col("f2").as("in_winnow"),
          col("f3").as("in_jaccard"))
        .agg(count(lit(1)).cast("long").as("n_pairs"))
        .orderBy(col("in_minhash"), col("in_winnow"), col("in_jaccard"))
    },

    // ---- q_c88: LSH band recall calibration -------------------------------
    // The banding scheme's OBSERVED recall against its ANALYTIC model:
    // with r = 2 rows × b = 3 bands, idealized MinHash detects a pair of
    // Jaccard s with probability 1 − (1 − s²)³ (the S-curve every LSH
    // design doc plots). This query buckets the exact τ = 0.5 verified
    // pairs (q_b6) by Jaccard decile and reports, per bucket, how many
    // the banded generator (q_c1) actually surfaced next to the model's
    // expectation — the number a pipeline owner reads before trusting
    // (or re-parameterizing) the band geometry. Divergence is signal,
    // not error: real shingle sets violate the uniform-hashing
    // idealization exactly where corpora are structured.
    //
    // 100 TB shape: both inputs already carry their scale stories (the
    // AllPairs prefix filter; banding) and arrive as id-pair frames; the
    // left join keys 16-byte pairs, the agg holds ≤ 6 decile rows. The
    // expected-recall arithmetic is the house double discipline: s is
    // one IEEE division, the S-curve three fixed-order multiplies,
    // quantized (D18,6) per pair before the exact decimal mean.
    QueryDef(
      "q_c88_lsh_recall",
      Some(s"""WITH $duckMinhashCand,
              |$duckJaccardTail,
              |scal AS (SELECT jp.doc_a, jp.doc_b, jp.shared, jp.uni,
              |         CAST(jp.shared AS DOUBLE) / CAST(jp.uni AS DOUBLE) AS s,
              |         CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END AS detected
              |       FROM jp LEFT JOIN cand c ON c.doc_a = jp.doc_a AND c.doc_b = jp.doc_b),
              |eq AS (SELECT (shared * 10) // uni AS jac_decile, detected,
              |         CAST(1 - (1 - s * s) * (1 - s * s) * (1 - s * s) AS DECIMAL(18,6)) AS exp_p
              |       FROM scal)
              |SELECT CAST(jac_decile AS BIGINT) AS jac_decile,
              |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
              |  CAST(SUM(detected) AS BIGINT) AS n_detected,
              |  CAST(CAST(CAST(SUM(detected) AS DECIMAL(18,6)) / CAST(COUNT(*) AS DECIMAL(18,6)) AS DECIMAL(38,6)) AS DOUBLE) AS observed_recall,
              |  CAST(CAST(CAST(SUM(exp_p) AS DECIMAL(18,6)) / CAST(COUNT(*) AS DECIMAL(18,6)) AS DECIMAL(38,6)) AS DOUBLE) AS expected_recall
              |FROM eq GROUP BY 1 ORDER BY jac_decile""".stripMargin)
    ) { (s, d) =>
      val jp = verifiedJaccardPairs(s, d)
      val cand = minhashCandidatesShared(s, d)
        .select(col("doc_a"), col("doc_b"), lit(1).as("det"))
      val sc = jp.join(cand, Seq("doc_a", "doc_b"), "left")
        .select(col("shared"), col("uni"),
          (col("shared").cast("double") / col("uni").cast("double")).as("s"),
          when(col("det").isNotNull, 1).otherwise(0).as("detected"))
      val q = lit(1) - col("s") * col("s")
      sc.select(expr("(shared * 10) DIV uni").as("jac_decile"), col("detected"),
          dec(lit(1) - q * q * q).as("exp_p"))
        .groupBy(col("jac_decile"))
        .agg(count(lit(1)).cast("long").as("n_pairs"),
          sum(col("detected")).cast("long").as("n_detected"),
          emit((dec(sum(col("detected"))) / dec(count(lit(1)))).cast(D38))
            .as("observed_recall"),
          emit((dec(sum(col("exp_p"))) / dec(count(lit(1)))).cast(D38))
            .as("expected_recall"))
        .orderBy(col("jac_decile"))
    },

    // ---- q_c91: cross-source duplication matrix ---------------------------
    // Where does the duplication COME from? Every verified τ = 0.5
    // near-dup pair (q_b6) keyed by the unordered (source, source) pair
    // of its endpoints — the matrix corpus reports publish to show
    // which ingestion sources copy from each other (mirror sites, CC
    // re-crawls, cross-posted docs) vs which duplicate internally. The
    // diagonal is within-source duplication; off-diagonal mass is the
    // argument for cross-source dedup passes.
    //
    // 100 TB shape: the verified pair frame is tiny relative to the
    // corpus and BROADCASTS into two map-side joins against the slim
    // (doc_id, source) projection — the corpus is scanned once for ids
    // and never shuffles; the final agg holds |sources|² rows at most.
    QueryDef(
      "q_c91_source_dup_matrix",
      Some(s"""WITH $duckJaccardPairs,
              |sm AS (SELECT doc_id, source FROM documents),
              |px AS (SELECT LEAST(sa.source, sb.source) AS source_a,
              |              GREATEST(sa.source, sb.source) AS source_b
              |       FROM jp JOIN sm sa ON jp.doc_a = sa.doc_id
              |               JOIN sm sb ON jp.doc_b = sb.doc_id)
              |SELECT source_a, source_b, CAST(COUNT(*) AS BIGINT) AS n_pairs
              |FROM px GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin)
    ) { (s, d) =>
      val jp = verifiedJaccardPairs(s, d).select(col("doc_a"), col("doc_b"))
      val sm = Tables(s, d, "documents").select(col("doc_id"), col("source"))
      val j1 = sm.select(col("doc_id").as("doc_a"), col("source").as("sa"))
        .join(broadcast(jp), Seq("doc_a"))
      val j2 = sm.select(col("doc_id").as("doc_b"), col("source").as("sb"))
        .join(broadcast(j1), Seq("doc_b"))
      j2.select(least(col("sa"), col("sb")).as("source_a"),
          greatest(col("sa"), col("sb")).as("source_b"))
        .groupBy(col("source_a"), col("source_b"))
        .agg(count(lit(1)).cast("long").as("n_pairs"))
        .orderBy(col("source_a"), col("source_b"))
    },

    // ---- q_c92: MinHash signature-agreement estimator calibration ---------
    // q_c88 calibrates the band DETECTION probability; this calibrates
    // the signature ESTIMATOR itself: the fraction of equal minhash
    // components is an unbiased estimate of Jaccard (E[matches/k] = s —
    // the Broder identity LSH is built on), and with k = 6 its grid is
    // coarse (multiples of 1/6). Per Jaccard decile of the exact
    // verified pairs: total matching components, the mean estimate, and
    // the mean true Jaccard next to it — the bias/resolution table a
    // pipeline owner reads before trusting signature-only similarity
    // (e.g. the stored-index path q_c66) at a finer threshold than the
    // signature supports.
    //
    // 100 TB shape: the 48 B/doc signature frame joins the tiny pair
    // frame on doc ids (both map-side-small); all arithmetic is
    // integer matches + the house per-term D18,6 quantization.
    QueryDef(
      "q_c92_minhash_estimator",
      Some(s"""WITH $duckMinhashCand,
              |$duckJaccardTail,
              |me AS (SELECT jp.doc_a, jp.doc_b, jp.shared, jp.uni,
              |  (CASE WHEN a.mh0 = b.mh0 THEN 1 ELSE 0 END +
              |   CASE WHEN a.mh1 = b.mh1 THEN 1 ELSE 0 END +
              |   CASE WHEN a.mh2 = b.mh2 THEN 1 ELSE 0 END +
              |   CASE WHEN a.mh3 = b.mh3 THEN 1 ELSE 0 END +
              |   CASE WHEN a.mh4 = b.mh4 THEN 1 ELSE 0 END +
              |   CASE WHEN a.mh5 = b.mh5 THEN 1 ELSE 0 END) AS matches
              |  FROM jp JOIN sig a ON a.doc_id = jp.doc_a
              |          JOIN sig b ON b.doc_id = jp.doc_b),
              |eq AS (SELECT (shared * 10) // uni AS jac_decile, matches,
              |  CAST(CAST(matches AS DOUBLE) / CAST(6 AS DOUBLE) AS DECIMAL(18,6)) AS est,
              |  CAST(CAST(shared AS DOUBLE) / CAST(uni AS DOUBLE) AS DECIMAL(18,6)) AS tru
              |  FROM me)
              |SELECT CAST(jac_decile AS BIGINT) AS jac_decile,
              |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
              |  CAST(SUM(matches) AS BIGINT) AS sig_matches,
              |  CAST(CAST(CAST(SUM(est) AS DECIMAL(18,6)) / CAST(COUNT(*) AS DECIMAL(18,6)) AS DECIMAL(38,6)) AS DOUBLE) AS mean_est,
              |  CAST(CAST(CAST(SUM(tru) AS DECIMAL(18,6)) / CAST(COUNT(*) AS DECIMAL(18,6)) AS DECIMAL(38,6)) AS DOUBLE) AS mean_jaccard
              |FROM eq GROUP BY 1 ORDER BY jac_decile""".stripMargin)
    ) { (s, d) =>
      val jp = verifiedJaccardPairs(s, d)
      val sig = minhashSignatures(s, d)
      val sa = sig.select(
        col("doc_id").as("doc_a") +: (0 until 6).map(i => col(s"mh$i").as(s"a$i")): _*)
      val sb = sig.select(
        col("doc_id").as("doc_b") +: (0 until 6).map(i => col(s"mh$i").as(s"b$i")): _*)
      val matches = (0 until 6)
        .map(i => when(col(s"a$i") === col(s"b$i"), 1).otherwise(0))
        .reduce(_ + _)
      jp.join(sa, Seq("doc_a")).join(sb, Seq("doc_b"))
        .select(col("shared"), col("uni"), matches.as("matches"))
        .select(expr("(shared * 10) DIV uni").as("jac_decile"), col("matches"),
          // dec-of-double, NOT the D38 decimal-division emit pattern: these
          // feed the decimal mean downstream, and the engines round the
          // decimal division through different intermediates (PERF.md r17)
          dec(col("matches").cast("double") / lit(6).cast("double")).as("est"),
          dec(col("shared").cast("double") / col("uni").cast("double")).as("tru"))
        .groupBy(col("jac_decile"))
        .agg(count(lit(1)).cast("long").as("n_pairs"),
          sum(col("matches")).cast("long").as("sig_matches"),
          emit((dec(sum(col("est"))) / dec(count(lit(1)))).cast(D38)).as("mean_est"),
          emit((dec(sum(col("tru"))) / dec(count(lit(1)))).cast(D38)).as("mean_jaccard"))
        .orderBy(col("jac_decile"))
    },

    // ---- q_c95: winnowing window-size calibration -------------------------
    // q_c75 ships w = 4; this is the operating-point sweep a pipeline
    // owner reads before trusting (or re-tuning) that choice: for
    // w ∈ {2, 4, 8}, the fingerprint-index size (the COST — winnowing
    // selects ~2/(w+1) of positions), the candidate-pair count, and the
    // recall against the exact τ = 0.5 pairs — through the IDENTICAL
    // selection + df-prune + ≥2-shared rule at every w (the shared
    // winnowFingerprints/winnowPairsFromFps template, so the sweep
    // measures the shipped pipeline, not a reimplementation).
    //
    // 100 TB shape: three independent map-only fingerprint folds (the
    // q_c75 story ×3) into per-w single-row aggregates; the exact-pair
    // frame is computed once and broadcast into the three recall joins.
    QueryDef(
      "q_c95_winnow_calibration",
      Some(s"""WITH $duckShingles,
              |$duckJaccardTail,
              |${duckWinnowChain("_2", 2)},
              |${duckWinnowChain("_4", 4)},
              |${duckWinnowChain("_8", 8)},
              |res AS (
              |  SELECT 2 AS win_w,
              |    (SELECT COUNT(*) FROM fp_2) AS n_fingerprints,
              |    (SELECT COUNT(*) FROM wp_2) AS n_pairs,
              |    (SELECT COUNT(*) FROM jp) AS n_exact,
              |    (SELECT COUNT(*) FROM wp_2 x JOIN jp j ON j.doc_a = x.doc_a AND j.doc_b = x.doc_b) AS n_recalled
              |  UNION ALL
              |  SELECT 4,
              |    (SELECT COUNT(*) FROM fp_4),
              |    (SELECT COUNT(*) FROM wp_4),
              |    (SELECT COUNT(*) FROM jp),
              |    (SELECT COUNT(*) FROM wp_4 x JOIN jp j ON j.doc_a = x.doc_a AND j.doc_b = x.doc_b)
              |  UNION ALL
              |  SELECT 8,
              |    (SELECT COUNT(*) FROM fp_8),
              |    (SELECT COUNT(*) FROM wp_8),
              |    (SELECT COUNT(*) FROM jp),
              |    (SELECT COUNT(*) FROM wp_8 x JOIN jp j ON j.doc_a = x.doc_a AND j.doc_b = x.doc_b))
              |SELECT CAST(win_w AS BIGINT) AS win_w,
              |  CAST(n_fingerprints AS BIGINT) AS n_fingerprints,
              |  CAST(n_pairs AS BIGINT) AS n_pairs,
              |  CAST(n_exact AS BIGINT) AS n_exact,
              |  CAST(n_recalled AS BIGINT) AS n_recalled,
              |  CAST(CAST(CAST(n_recalled AS DECIMAL(18,6)) / CAST(n_exact AS DECIMAL(18,6)) AS DECIMAL(38,6)) AS DOUBLE) AS recall
              |FROM res ORDER BY win_w""".stripMargin)
    ) { (s, d) =>
      val jp = verifiedJaccardPairs(s, d)
        .select(col("doc_a"), col("doc_b"), lit(1L).as("ex"))
      val exTot = verifiedJaccardPairs(s, d)
        .agg(count(lit(1)).cast("long").as("n_exact"))
      val rows = Seq(2, 4, 8).map { w =>
        val fp = winnowFingerprints(
          Tables(s, d, "documents").select(col("doc_id"), col("text")), w)
        val nfp = fp.agg(count(lit(1)).cast("long").as("n_fingerprints"))
        val pstats = winnowPairsFromFps(fp)
          .join(jp, Seq("doc_a", "doc_b"), "left")
          .agg(count(lit(1)).cast("long").as("n_pairs"),
            coalesce(sum(when(col("ex").isNotNull, 1L).otherwise(0L)), lit(0L))
              .cast("long").as("n_recalled"))
        pstats.crossJoin(broadcast(nfp)).crossJoin(broadcast(exTot))
          .select(lit(w.toLong).as("win_w"), col("n_fingerprints"),
            col("n_pairs"), col("n_exact"), col("n_recalled"))
      }
      rows.reduce(_ unionByName _)
        .withColumn("recall",
          emit((dec(col("n_recalled")) / dec(col("n_exact"))).cast(D38)))
        .orderBy(col("win_w"))
    },

    // ---- q_c100: dedup threshold-retention curve --------------------------
    // THE tuning table for near-dup dedup: how much of the corpus does
    // each Jaccard threshold touch? q_c88 calibrates what the BANDING
    // detects per similarity decile and q_c19 commits to one τ; this
    // reports, for τ ∈ {0.5 … 0.9}, the surviving pair count, the number
    // of distinct documents with ≥ 1 partner at that strength (the upper
    // bound on keep-one-per-family removals), and that count as ppm of
    // the corpus — the curve a pipeline owner reads to price a τ before
    // committing a dedup pass. Exactness: the τ = 0.5 verified pair
    // frame ([[verifiedJaccardPairs]]) is a SUPERSET of every τ ≥ 0.5
    // pair set (Jaccard filters are monotone in τ), so the whole curve
    // is exact from ONE pair pipeline — no per-τ re-verification. The
    // threshold test is q_b6's integer form (shared·10 ≥ uni·τ10):
    // no floats anywhere.
    //
    // 100 TB shape: one AllPairs pipeline (the q_b6 rails), its O(pairs)
    // output persisted across the two consumers; the ×5 threshold
    // unpivot rides a broadcast cross join; both counts are map-side-
    // combined aggs on tau10; output is 5 rows. n_docs·10⁶ stays in
    // int64 for any DOCUMENT count a 100 TB corpus can hold (~10¹¹ docs
    // → 10¹⁷), unlike token-denominated ratios (the q_c99 two-step).
    QueryDef(
      "q_c100_dedup_threshold_curve",
      Some(s"""WITH $duckJaccardPairs,
              |taus AS (SELECT CAST(x AS BIGINT) AS tau10
              |         FROM (SELECT unnest([5, 6, 7, 8, 9]) AS x)),
              |ntot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM documents),
              |hits AS (SELECT t.tau10, jp.doc_a, jp.doc_b
              |         FROM jp CROSS JOIN taus t
              |         WHERE jp.shared * 10 >= jp.uni * t.tau10),
              |np AS (SELECT tau10, CAST(COUNT(*) AS BIGINT) AS n_pairs
              |       FROM hits GROUP BY 1),
              |ex AS (SELECT tau10, doc_a AS d FROM hits
              |       UNION SELECT tau10, doc_b FROM hits),
              |nd AS (SELECT tau10, CAST(COUNT(*) AS BIGINT) AS n_docs
              |       FROM ex GROUP BY 1)
              |SELECT t.tau10, COALESCE(np.n_pairs, 0) AS n_pairs,
              |  COALESCE(nd.n_docs, 0) AS n_docs, ntot.n_total,
              |  CAST(COALESCE(nd.n_docs, 0) * 1000000 // ntot.n_total AS BIGINT) AS touched_ppm
              |FROM taus t
              |LEFT JOIN np ON np.tau10 = t.tau10
              |LEFT JOIN nd ON nd.tau10 = t.tau10
              |CROSS JOIN ntot
              |ORDER BY t.tau10""".stripMargin)
    ) { (s, d) =>
      import s.implicits._
      val jp = graft.core.CachedRdds.registerDf(
        verifiedJaccardPairs(s, d)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val taus = Seq(5L, 6L, 7L, 8L, 9L).toDF("tau10")
      val hits = jp.crossJoin(broadcast(taus))
        .filter(col("shared") * 10 >= col("uni") * col("tau10"))
        .select(col("tau10"), col("doc_a"), col("doc_b"))
      val np = hits.groupBy(col("tau10"))
        .agg(count(lit(1)).cast("long").as("n_pairs"))
      val nd = hits.select(col("tau10"), col("doc_a").as("d"))
        .union(hits.select(col("tau10"), col("doc_b").as("d")))
        .distinct()
        .groupBy(col("tau10"))
        .agg(count(lit(1)).cast("long").as("n_docs"))
      val ntot = Tables(s, d, "documents")
        .agg(count(lit(1)).cast("long").as("n_total"))
      taus.join(np, Seq("tau10"), "left").join(nd, Seq("tau10"), "left")
        .crossJoin(broadcast(ntot))
        .select(col("tau10"),
          coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
          coalesce(col("n_docs"), lit(0L)).as("n_docs"),
          col("n_total"),
          expr("CAST(COALESCE(n_docs, 0L) * 1000000 DIV n_total AS BIGINT)")
            .as("touched_ppm"))
        .orderBy(col("tau10"))
    },

    // ---- q_c120: MinHash (bands, rows) frontier calibration ---------------
    // q_c88 calibrates the ONE shipped banding (3 bands × 2 rows); at
    // 100 TB the (b, r) choice is THE dedup cost/recall knob, and this
    // query maps the frontier across the 6-permutation signature
    // family's bandings ([[lshGrid]] — all four full-width points plus
    // two half-signature truncations): per grid
    // point, the candidate-pair volume that banding generates (the
    // COST axis — candidate pairs are what the verifier must score) and
    // its observed recall against the exact τ = 0.5 verified pairs
    // (q_b6) next to the analytic S-curve 1 − (1 − s^r)^b expectation.
    // The row a pipeline owner reads before re-parameterizing: more
    // bands/fewer rows buys recall with candidate volume, and the
    // observed column shows where real (structured) corpora leave the
    // uniform-hashing idealization. Grid membership (and why not every
    // b·r ≤ 6 truncation) is documented at [[lshGrid]].
    //
    // 100 TB shape: ONE pass over the STORED 48 B/doc signature index
    // (q_c66's artifact — the corpus text is never read) emits every
    // grid point's band keys, so the sweep shuffles once on
    // (bands, rows_per_band, band, key) — the summed volume the six
    // per-point plans paid, in one job chain instead of six. The
    // verified-pair frame joins in at O(true pairs × grid points). The
    // grid is a calibration harness run on an ingest sample, not a
    // per-ingest cost.
    QueryDef(
      "q_c120_lsh_band_grid",
      Some(s"""WITH $duckMinhashCand,
              |$duckJaccardTail,
              |$lshGridSqlTail""".stripMargin)
    ) { (s, d) =>
      lshBandGrid(s.read.parquet(s"${minhashIndex(s, d)}/sigs"),
        verifiedJaccardPairs(s, d))
    },

    // ---- q_c134: MinHash segment retirement ----------------------------------
    // The q_c133 GC verdict instantiated for the MinHash signature
    // family: the compacted signature table (q_c129) retires its source
    // segments iff the additive per-segment digests prove it holds
    // EXACTLY their multiset union. Columns are all numeric (doc_id +
    // six mh longs), so the canonical row encoding is the bare
    // '|'-joined form — engine-neutral, replayed by DuckDB from the
    // artifact parquet alone (tools/compare_oracle.py). Reads ONLY
    // stored artifacts ⇒ rows-only; the family law itself is
    // spec-pinned in RetirementPropertySpec/Bm25RetirementSpec.
    QueryDef("q_c134_minhash_retirement", None) { (s, d) =>
      val segPath = minhashSegmentsIndex(s, d)
      val cPath = minhashCompactedIndex(s, segPath)
      TextQueries.segmentRetirementPlan(
        Seq("seg0" -> s.read.parquet(s"$segPath/seg0/sigs"),
          "seg1" -> s.read.parquet(s"$segPath/seg1/sigs")),
        s.read.parquet(s"$cPath/sigs"))
    },

    // ---- q_c144: MinHash-signature retirement GC -----------------------------
    // The q_c141 GC verb for the MinHash family: build signature
    // segments, compact, recompute the q_c134 digest verdict, DELETE
    // the certified segment directories (atomically gated), journal to
    // gc_log. Frame = the q_c66 banded candidate search served from the
    // post-GC compacted signature table + the GC outcome
    // ([[TextQueries.gcServe]]). Rows-only (stored artifacts only);
    // RetirementGcSpec proves post-GC candidates ≡ the pre-GC
    // segment-union candidates with the corpus deleted first; DuckDB
    // reproduces the frame from the GC'd artifact alone
    // (tools/compare_oracle.py).
    //
    // 100 TB shape: the digest is one column-pruned scan per artifact
    // into additive 1-row state; the candidate search shuffles 48 B/doc
    // signatures on band keys, never the corpus.
    QueryDef("q_c144_minhash_gc", None) { (s, d) =>
      val path = minhashGcIndex(s, d)
      TextQueries.gcServe(s, path,
        minhashSearchStored(s, s"$path/compacted"))
        .orderBy(col("doc_a"), col("doc_b"))
    }
  )

  /** q_c120's calibration grid: every FULL-WIDTH banding of the shipped
    * 6-permutation signature family (b · r = 6: (1,6), (2,3), (3,2),
    * (6,1) — bands of consecutive hashes) plus the two budget-truncated
    * points (2,2) and (1,3) that show what HALF the signature buys.
    * Deliberately not every b · r ≤ 6 combination: the remaining
    * truncations ((1,1), (2,1), (1,2), ...) are prefixes of measured
    * points with strictly less information at the same hash cost —
    * extend this Seq to measure one. In output order; ONE constant
    * drives the DataFrame plan, the DuckDB oracle text and the
    * Spark-SQL twin, so a grid change cannot fork the three.
    */
  private[graft] lazy val lshGrid: Seq[(Int, Int)] =
    Seq((1, 3), (1, 6), (2, 2), (2, 3), (3, 2), (6, 1))

  /** q_c120's frontier over a signature table `sig(doc_id, mh0..mh5)` and
    * the verified pairs `jp(doc_a, doc_b, shared, uni)` — the DataFrame
    * twin of [[lshGridSqlTail]], as one keyed pass: every grid point's
    * (bands, rows_per_band, band, key) rows come out of one explode, one
    * self-join on those four keys finds every point's candidates, and
    * the grid frame left-joins the per-point stats, so a point with no
    * candidates or no true pairs keeps its row (0 counts, NULL sums).
    * Each pair's S-curve is its own point's literal expression (a CASE
    * over the grid), so every double matches the per-point SQL.
    */
  private[graft] def lshBandGrid(sig: DataFrame, jp: DataFrame): DataFrame = {
    val s = sig.sparkSession
    import s.implicits._
    val point = Seq("bands", "rows_per_band")
    val pointLits = (b: Int, r: Int) =>
      Seq(lit(b.toLong).as("bands"), lit(r.toLong).as("rows_per_band"))
    val bandsDf = sig.select(col("doc_id"), explode(array(lshGrid.flatMap { case (b, r) =>
      (0 until b).map { i =>
        struct(pointLits(b, r) ++ Seq(lit(i).as("band"),
          concat_ws("_", (0 until r).map(j => col(s"mh${i * r + j}")): _*).as("key")): _*)
      }
    }: _*)).as("bk")).select(col("doc_id"), col("bk.*"))
    val cand = bandsDf.as("a")
      .join(bandsDf.as("b"),
        (point :+ "band" :+ "key").map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _)
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.bands"), col("a.rows_per_band"),
        col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val nCand = cand.groupBy(point.map(col): _*)
      .agg(count(lit(1)).cast("long").as("n_candidates"))
    val expP = lshGrid.map { case (b, r) =>
      val spow = (0 until r).map(_ => col("s")).reduce(_ * _)
      val q = lit(1) - spow
      val qpow = (0 until b).map(_ => q).reduce(_ * _)
      (col("bands") === b.toLong && col("rows_per_band") === r.toLong, dec(lit(1) - qpow))
    }
    val stats = jp
      .select(col("doc_a"), col("doc_b"),
        (col("shared").cast("double") / col("uni").cast("double")).as("s"),
        explode(array(lshGrid.map { case (b, r) => struct(pointLits(b, r): _*) }: _*))
          .as("pt"))
      .select(col("doc_a"), col("doc_b"), col("s"), col("pt.*"))
      .join(cand.withColumn("det", lit(1)), point ++ Seq("doc_a", "doc_b"), "left")
      .select(col("bands"), col("rows_per_band"),
        when(col("det").isNotNull, 1).otherwise(0).as("detected"),
        expP.tail.foldLeft(when(expP.head._1, expP.head._2)) {
          case (acc, (c, v)) => acc.when(c, v) }.as("exp_p"))
      .groupBy(point.map(col): _*)
      .agg(count(lit(1)).cast("long").as("n_true"),
        sum(col("detected")).as("n_detected"), sum(col("exp_p")).as("sum_exp_p"))
    lshGrid.map { case (b, r) => (b.toLong, r.toLong) }.toDF(point: _*)
      .join(broadcast(nCand), point, "left").join(broadcast(stats), point, "left")
      .select(col("bands"), col("rows_per_band"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("n_true"), lit(0L)).as("n_true"),
        col("n_detected"), col("sum_exp_p"))
      .select(col("bands"), col("rows_per_band"), col("n_candidates"), col("n_true"),
        col("n_detected").cast("long").as("n_detected"),
        emit((dec(col("n_detected")) / dec(col("n_true"))).cast(D38))
          .as("observed_recall"),
        emit((dec(col("sum_exp_p")) / dec(col("n_true"))).cast(D38))
          .as("expected_recall"))
      .orderBy(col("bands"), col("rows_per_band"))
  }

  /** Dialect-neutral SQL tail of the q_c120 grid (composes after any
    * chain putting `sig(doc_id, mh0..mh5)` and `jp(doc_a, doc_b,
    * shared, uni)` in scope) — shared verbatim by the DuckDB oracle and
    * the Spark-SQL twin. The S-curve is written with the SAME textual
    * association order on every side (the house double discipline).
    */
  private[graft] lazy val lshGridSqlTail: String = {
    val ctes = lshGrid.map { case (b, r) =>
      val bandSel = (0 until b).map { i =>
        val cols = (0 until r).map(j => s"mh${i * r + j}").mkString(", ")
        if (i == 0) s"  SELECT doc_id, 0 AS band, concat_ws('_', $cols) AS key FROM sig"
        else s"  UNION ALL SELECT doc_id, $i, concat_ws('_', $cols) FROM sig"
      }.mkString("\n")
      val spow = List.fill(r)("s").mkString(" * ")
      val qpow = List.fill(b)(s"(1 - $spow)").mkString(" * ")
      s"""bd_${b}_$r AS (
         |$bandSel),
         |cd_${b}_$r AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bd_${b}_$r a JOIN bd_${b}_$r b
         |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
         |g_${b}_$r AS (
         |  SELECT CAST($b AS BIGINT) AS bands, CAST($r AS BIGINT) AS rows_per_band,
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM cd_${b}_$r) AS n_candidates,
         |    CAST(COUNT(*) AS BIGINT) AS n_true,
         |    CAST(SUM(detected) AS BIGINT) AS n_detected,
         |    CAST(CAST(CAST(SUM(detected) AS DECIMAL(18,6)) / CAST(COUNT(*) AS DECIMAL(18,6)) AS DECIMAL(38,6)) AS DOUBLE) AS observed_recall,
         |    CAST(CAST(CAST(SUM(exp_p) AS DECIMAL(18,6)) / CAST(COUNT(*) AS DECIMAL(18,6)) AS DECIMAL(38,6)) AS DOUBLE) AS expected_recall
         |  FROM (SELECT CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END AS detected,
         |          CAST(1 - $qpow AS DECIMAL(18,6)) AS exp_p
         |        FROM (SELECT doc_a, doc_b,
         |                CAST(shared AS DOUBLE) / CAST(uni AS DOUBLE) AS s
         |              FROM jp) sc
         |        LEFT JOIN cd_${b}_$r c
         |          ON c.doc_a = sc.doc_a AND c.doc_b = sc.doc_b) t)""".stripMargin
    }.mkString(",\n")
    val sel = lshGrid.map { case (b, r) => s"SELECT * FROM g_${b}_$r" }
      .mkString("\nUNION ALL ")
    s"$ctes\n$sel\nORDER BY bands, rows_per_band"
  }

  /** q_c78's held-out predicate — q_c47's benchmark slice, so the two
    * decontamination geometries are measured against the SAME set.
    */
  private val benchSlice = col("doc_id") % 17 === 3

  /** DuckDB CTE TAIL (assumes `sh` is already in scope — compose after
    * [[duckShingles]] or any chain that includes it) ending in
    * `jp(doc_a, doc_b, shared, uni)` — the τ = 0.5 verified word-shingle
    * Jaccard pairs, the oracle twin of [[verifiedJaccardPairs]] (shared
    * by q_b6 and q_c85).
    */
  lazy val duckJaccardTail: String =
    """cnt AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id),
      |jp AS (
      |  SELECT doc_a, doc_b, shared, ca.n_sh + cb.n_sh - shared AS uni
      |  FROM pairs
      |  JOIN cnt ca ON doc_a = ca.doc_id
      |  JOIN cnt cb ON doc_b = cb.doc_id
      |  WHERE shared * 10 >= (ca.n_sh + cb.n_sh - shared) * 5)""".stripMargin

  lazy val duckJaccardPairs: String = s"$duckShingles,\n$duckJaccardTail"

  /** q_b6's verified near-dup pair frame (doc_a, doc_b, shared, uni) at
    * τ = 0.5: the exact AllPairs prefix filter (see [[allPairsJaccard]]),
    * prefix length n − ⌈n/2⌉ + 1 in integer arithmetic. Output is
    * bit-identical to the naive self-join the oracle runs. Shared by
    * q_b6 and q_c85's generator-agreement report.
    */
  private[graft] def verifiedJaccardPairs(s: SparkSession, d: String): DataFrame =
    allPairsJaccard(
      s, d, "garr_word_shingle",
      shingles(s, d).withColumnRenamed("shingle", "key"),
      col("n_g") - expr("(n_g + 1) DIV 2") + 1,
      tau10 = 5)

  /** DuckDB winnowing CTE chain ending in `wp$sfx(doc_a, doc_b,
    * shared_fp)` at window size `winW` — ONE template for the q_c75
    * geometry (sfx = "", winW = 4) and q_c95's suffixed parameter grid,
    * so the sweep measures exactly the shipped pipeline at other
    * operating points.
    */
  def duckWinnowChain(sfx: String, winW: Int): String =
    s"""t$sfx AS (SELECT doc_id, string_split(lower(text), ' ') AS ts FROM documents),
       |g$sfx AS (SELECT doc_id,
       |  list_transform(range(len(ts) - 2), i ->
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |        [CAST(ascii(x) AS BIGINT) for x in
       |         string_split(ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3], '')]),
       |      (acc, ch) -> (acc * 31 + ch) % 1000000007)) AS hs
       |  FROM t$sfx WHERE len(ts) >= 3),
       |w$sfx AS (SELECT doc_id,
       |  CASE WHEN len(hs) >= $winW
       |       THEN list_transform(range(len(hs) - ${winW - 1}), p -> list_min(hs[p+1:p+$winW]))
       |       ELSE [list_min(hs)] END AS sel
       |  FROM g$sfx),
       |fp$sfx AS (SELECT DISTINCT doc_id, fp FROM
       |        (SELECT doc_id, unnest(sel) AS fp FROM w$sfx)),
       |kept$sfx AS (SELECT doc_id, fp FROM fp$sfx
       |         QUALIFY COUNT(*) OVER (PARTITION BY fp) <= 50),
       |wp$sfx AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |              CAST(COUNT(*) AS BIGINT) AS shared_fp
       |       FROM kept$sfx a JOIN kept$sfx b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |       GROUP BY 1, 2 HAVING COUNT(*) >= 2)""".stripMargin

  /** `wp(doc_a, doc_b, shared_fp)` at the shipped w = 4 — the oracle
    * twin of [[winnowPairs]], shared by q_c75's, q_c85's and q_c86's
    * oracles.
    */
  lazy val duckWinnowPairs: String = duckWinnowChain("", 4)

  /** q_c75's overlap-pair frame (doc_a, doc_b, shared_fp): winnowing
    * fingerprints, stop-fingerprint prune (df > 50), pairs sharing ≥ 2.
    * Shared by q_c75 and q_c85's generator-agreement report.
    */
  private[graft] def winnowPairs(s: SparkSession, d: String): DataFrame =
    winnowPairsFromFps(winnowFingerprints(
      Tables(s, d, "documents").select(col("doc_id"), col("text"))))

  /** The stop-fingerprint prune (per-fp doc frequency ≤ 50) + the
    * ≥ 2-shared pair rule over a (doc_id, fp) frame — q_c75's tail,
    * factored so q_c95's parameter sweep applies the IDENTICAL rule at
    * every window size.
    */
  private[graft] def winnowPairsFromFps(fp: DataFrame): DataFrame = {
    val kept = fp
      .withColumn("dfc",
        count(lit(1)).over(Window.partitionBy(col("fp"))))
      .filter(col("dfc") <= 50)
      .drop("dfc")
    kept.as("a")
      .join(kept.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).cast("long").as("shared_fp"))
      .filter(col("shared_fp") >= 2)
  }

  /** q_c75's fingerprint selection over a (doc_id, text) frame: the set
    * of winW-window minima over the in-sequence word-3-gram rolling-hash
    * stream (winnowing; shipped winW = 4). Map-only; shared by the batch
    * query, WinnowingSpec's guarantee fixtures, and q_c95's sweep.
    */
  private[graft] def winnowFingerprints(docs: DataFrame, winW: Int = 4): DataFrame = {
    // gram_hashes + sliding_min are the codegen'd twins of the HOF
    // transform/aggregate/slice spelling (optimization r19, guide §1.2):
    // same gram-hash stream (each char hashed once via composition), same
    // window minima (sliding_min's n<w branch IS the otherwise-branch
    // single global min). PolyHashSpec pins value equality; the SQL twin
    // and the DuckDB oracle keep the HOF form.
    hashFns(docs.sparkSession)
    docs
      .select(col("doc_id"), split(lower(col("text")), " ").as("ts"))
      .filter(size(col("ts")) >= 3)
      .select(col("doc_id"), expr("gram_hashes(ts, 3)").as("hs"))
      .select(col("doc_id"),
        explode(array_distinct(expr(s"sliding_min(hs, $winW)"))).as("fp"))
  }

  /** The BASE-corpus (doc_id % 10 <> 3) signature index for q_c68's
    * append scenario — same lifecycle as [[minhashIndex]], cached under
    * its own key.
    */
  private[graft] def minhashBaseIndex(s: SparkSession, d: String): String =
    graft.core.SessionMemo.stored(s, "minhash-base", d, Seq(s"$d/documents.parquet")) { path =>
      minhashSignatures(s, d)
        .filter(col("doc_id") % 10 =!= 3)
        .repartitionByRange(col("doc_id"))
        .sortWithinPartitions(col("doc_id"))
        .write.mode("overwrite").parquet(s"$path/sigs")
    }

  /** q_c129's SEGMENTED signature index — base and batch signatures
    * each persisted as their own doc_id-sorted segment (the bm25/phrase
    * segments pattern).
    */
  private[graft] def minhashSegmentsIndex(s: SparkSession, d: String): String =
    graft.core.SessionMemo.stored(s, "minhash-segments", d, Seq(s"$d/documents.parquet")) { path =>
      val sigs = minhashSignatures(s, d)
      Seq(("seg0", col("doc_id") % 10 =!= 3), ("seg1", col("doc_id") % 10 === 3))
        .foreach { case (seg, pred) =>
          sigs.filter(pred)
            .repartitionByRange(col("doc_id"))
            .sortWithinPartitions(col("doc_id"))
            .write.mode("overwrite").parquet(s"$path/$seg/sigs")
        }
    }

  /** The COMPACTED signature artifact: segment tables merged into one
    * doc_id-range-sorted table. Keyed on the segment directory's
    * snapshot — compaction is a function of the stored segments alone.
    */
  private[graft] def minhashCompactedIndex(s: SparkSession, segPath: String): String =
    graft.core.SessionMemo.stored(s, "minhash-compacted", segPath, Seq(segPath)) { path =>
      s.read.parquet(s"$segPath/seg0/sigs", s"$segPath/seg1/sigs")
        .repartitionByRange(col("doc_id"))
        .sortWithinPartitions(col("doc_id"))
        .write.mode("overwrite").parquet(s"$path/sigs")
    }

  /** q_c144's GC'd MinHash artifact — signature segments built,
    * compacted, the q_c134 verdict recomputed, retired segment
    * directories DELETED (atomically gated), journal written; its OWN
    * artifact copy (GC is destructive by design — it never acts on
    * q_c134's shared segments store).
    */
  private[graft] def minhashGcIndex(s: SparkSession, d: String): String =
    graft.core.SessionMemo.stored(s, "minhash-gc", d, Seq(s"$d/documents.parquet")) { path =>
      val sigs = minhashSignatures(s, d)
      Seq(("seg0", col("doc_id") % 10 =!= 3), ("seg1", col("doc_id") % 10 === 3))
        .foreach { case (seg, pred) =>
          sigs.filter(pred)
            .repartitionByRange(col("doc_id"))
            .sortWithinPartitions(col("doc_id"))
            .write.mode("overwrite").parquet(s"$path/segments/$seg/sigs")
        }
      s.read.parquet(s"$path/segments/seg0/sigs", s"$path/segments/seg1/sigs")
        .repartitionByRange(col("doc_id"))
        .sortWithinPartitions(col("doc_id"))
        .write.mode("overwrite").parquet(s"$path/compacted/sigs")
      TextQueries.writeGcLog(s, TextQueries.retirementGc(s,
        Seq("seg0" -> s"$path/segments/seg0", "seg1" -> s"$path/segments/seg1"),
        s"$path/compacted", Seq("sigs" -> None)), path)
    }
}
