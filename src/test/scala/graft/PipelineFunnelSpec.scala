package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** q_c117 preprocessing funnel.
  *
  * The funnel must be the exact composition of its four shipped stages:
  * the spec recomputes each stage's drop set from the INDIVIDUAL
  * registered queries (q_b5 exact families, q_c13 non-root members,
  * q_c31 pass flags, q_c24 contamination flags) and asserts both the
  * per-source conservation identity and that the survivor count equals
  * the independent intersection — if any stage's rule forked, this
  * breaks.
  */
class PipelineFunnelSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val sf = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[8]")
      .appName("graft-funnel-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("funnel = composition of the four shipped stages, conserved per source") {
    import org.apache.spark.sql.functions.{col, md5, min}
    val rows = SparkEntry.queries("q_c117_pipeline_funnel")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toSeq
    // independent stage sets from the registered component queries
    val docs = graft.core.Tables(spark, sf, "documents")
      .select(col("doc_id"), col("source")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val keepExact = graft.core.Tables(spark, sf, "documents")
      .select(col("doc_id"),
        min(col("doc_id")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(md5(col("text"))))
          .as("k"))
      .collect().filter(r => r.getLong(0) == r.getLong(1)).map(_.getLong(0)).toSet
    val nonRoot = SparkEntry.queries("q_c13_dup_clusters")(spark, sf)
      .collect().filter(r => r.getLong(0) != r.getLong(1)).map(_.getLong(0)).toSet
    val passRules = SparkEntry.queries("q_c31_rules_filter")(spark, sf)
      .collect().filter(_.getInt(6) == 1).map(_.getLong(0)).toSet
    val contaminated = SparkEntry.queries("q_c24_decontaminate")(spark, sf)
      .collect().filter(_.getLong(3) == 1L).map(_.getLong(0)).toSet
    graft.core.CachedRdds.drain()
    assert(rows.nonEmpty && rows.map(_._2).sum == docs.length.toLong)
    // conservation: stages + survivors account for every document
    for ((src, raw, de, dn, dr, dc, fin, pm) <- rows) {
      assert(de + dn + dr + dc + fin == raw, s"$src conservation")
      assert(pm == fin * 1000 / raw, s"$src permille")
    }
    // survivors == independent intersection of the four stage rules
    val expectedFinal = docs.map(_._1).count(id =>
      keepExact.contains(id) && !nonRoot.contains(id) &&
        passRules.contains(id) && !contaminated.contains(id)).toLong
    assert(rows.map(_._7).sum == expectedFinal,
      "funnel survivors must equal the intersection of the shipped stage rules")
    // attribution order: exact-stage drops equal the md5 non-keepers
    assert(rows.map(_._3).sum == (docs.length - keepExact.size).toLong)
    // q_c118 materializes exactly the survivors the report counts
    val corpus = SparkEntry.queries("q_c118_funnel_corpus")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    graft.core.CachedRdds.drain()
    assert(corpus.length.toLong == rows.map(_._7).sum,
      "materialized corpus size must equal the report's survivor total")
    val perSrc = corpus.groupBy(_._2).map { case (k, g) => (k, g.length.toLong) }
    assert(rows.filter(_._7 > 0).map(r => (r._1, r._7)).toMap === perSrc)
    assert(corpus.map(_._1).forall(id =>
      keepExact.contains(id) && !nonRoot.contains(id) &&
        passRules.contains(id) && !contaminated.contains(id)),
      "every emitted row must satisfy all four stage rules")
  }

  test("q_c119 differs from q_c118 on exactly the regret families, survivor-for-survivor") {
    val blind = SparkEntry.queries("q_c118_funnel_corpus")(spark, sf)
      .collect().map(_.getLong(0)).toSet
    val quality = SparkEntry.queries("q_c119_quality_funnel_corpus")(spark, sf)
      .collect().map(_.getLong(0)).toSet
    // regret families straight from the registered monitor
    val regretRoots = SparkEntry.queries("q_c114_family_quality")(spark, sf)
      .collect().filter(_.getLong(5) == 0L).map(_.getLong(0)).toSet
    assert(regretRoots.nonEmpty, "fixture must exercise the regret case")
    // best member per family under the q_c116 rule (qkey DESC, min id)
    val fq = graft.operators.PipelineQueries.familyQualityFrame(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val bestOf = fq.groupBy(_._3).map { case (fam, ms) =>
      (fam, ms.minBy(m => (-m._2, m._1))._1)
    }
    val regretBests = regretRoots.map(bestOf)
    // the OTHER three stage outcomes from the registered component
    // queries — including exact-dedup: a regret root/best that is an
    // exact duplicate of a lower-id doc is dropped by BOTH funnels, so
    // the expected symmetric difference must apply the same rule
    import org.apache.spark.sql.functions.{col, md5, min}
    val keepExact = graft.core.Tables(spark, sf, "documents")
      .select(col("doc_id"),
        min(col("doc_id")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(md5(col("text"))))
          .as("k"))
      .collect().filter(r => r.getLong(0) == r.getLong(1)).map(_.getLong(0)).toSet
    val passRules = SparkEntry.queries("q_c31_rules_filter")(spark, sf)
      .collect().filter(_.getInt(6) == 1).map(_.getLong(0)).toSet
    val contaminated = SparkEntry.queries("q_c24_decontaminate")(spark, sf)
      .collect().filter(_.getLong(3) == 1L).map(_.getLong(0)).toSet
    graft.core.CachedRdds.drain()
    val surviveTail = (id: Long) => keepExact.contains(id) &&
      passRules.contains(id) && !contaminated.contains(id)
    // the blind funnel's exclusive survivors are exactly the regret
    // roots that clear the downstream stages; the quality funnel's are
    // exactly the regret best members that clear them
    assert((blind -- quality) === regretRoots.filter(surviveTail),
      "q_c118-only survivors must be the surviving regret-family roots")
    assert((quality -- blind) === regretBests.filter(surviveTail),
      "q_c119-only survivors must be the surviving regret-family best members")
    // non-regret families and singletons are untouched by the swap
    assert((blind & quality).size == blind.size - regretRoots.count(surviveTail))
  }

  test("q_c121 mixture drift: token masses tie to the report and the materialized corpus") {
    import org.apache.spark.sql.functions.{col, expr}
    val drift = SparkEntry.queries("q_c121_funnel_mixture_drift")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toSeq
    val report = SparkEntry.queries("q_c117_pipeline_funnel")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(6))).toSeq
    // doc counts per source must be the report's, row for row
    assert(drift.map(r => (r._1, r._2, r._3)).sorted === report.sorted,
      "q_c121's doc counts must equal q_c117's n_raw/n_final")
    // raw token mass per source == an independent count over the corpus
    // (the rules stage's token definition: non-empty whitespace tokens)
    val rawTok = graft.core.Tables(spark, sf, "documents")
      .select(col("source"),
        expr("CAST(size(filter(split(lower(text), ' '), w -> length(w) > 0)) AS BIGINT)")
          .as("n"))
      .groupBy(col("source")).sum("n")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(drift.map(r => (r._1, r._4)).toMap === rawTok,
      "tok_raw must equal the independent per-source token count")
    // surviving token mass per source == tokens of the q_c118 corpus
    val survIds = SparkEntry.queries("q_c118_funnel_corpus")(spark, sf)
      .collect().map(_.getLong(0)).toSet
    val tokOf = graft.core.Tables(spark, sf, "documents")
      .select(col("doc_id"), col("source"),
        expr("CAST(size(filter(split(lower(text), ' '), w -> length(w) > 0)) AS BIGINT)")
          .as("n"))
      .collect().map(r => (r.getLong(0), (r.getString(1), r.getLong(2))))
    graft.core.CachedRdds.drain()
    val survTok = tokOf.filter(t => survIds.contains(t._1)).map(_._2)
      .groupBy(_._1).map { case (k, g) => (k, g.map(_._2).sum) }
    assert(drift.filter(_._5 > 0).map(r => (r._1, r._5)).toMap === survTok,
      "tok_final must equal the materialized corpus's per-source token mass")
    // share/drift arithmetic: integer permille off the emitted masses
    val traw = drift.map(_._4).sum
    val tfin = drift.map(_._5).sum
    assert(tfin > 0 && tfin <= traw)
    for ((src, _, _, tr, tf, rpm, fpm, dpm) <- drift) {
      assert(rpm == tr * 1000 / traw, s"$src raw share")
      assert(fpm == tf * 1000 / tfin, s"$src final share")
      assert(dpm == fpm - rpm, s"$src drift")
    }
    // a mixture report is only useful if the funnel actually re-weights:
    // the fixture must exercise a non-zero drift somewhere
    assert(drift.exists(_._8 != 0L), "fixture must exercise non-zero drift")
  }

  test("q_c121 on an everything-fails corpus: defined zeros, not DIVIDE_BY_ZERO") {
    // round 17: the heaps30 scale fixture zeroed the funnel's surviving
    // token mass (every doc fails some stage) and the unguarded
    // tok_final DIV tfin threw under ANSI mode. Reproduce: a corpus of
    // only <50-word documents (all fail q_c31's r_words) must yield a
    // defined report with an all-zero final side.
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("funnel_allfail").toString
    graft.core.Tables(spark, sf, "documents")
      .filter(size(split(col("text"), " ")) < 50)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    graft.core.Tables(spark, sf, "embeddings")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = SparkEntry.queries("q_c121_funnel_mixture_drift")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(2), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getLong(7)))
    assert(out.nonEmpty)
    out.foreach { case (src, nFinal, tokFinal, rawPm, finPm, driftPm) =>
      assert(nFinal == 0L && tokFinal == 0L, s"$src: fixture must drop everything")
      assert(finPm == 0L, s"$src: empty final side reports 0 permille")
      assert(driftPm == -rawPm, s"$src: drift stays defined")
    }
    graft.core.CachedRdds.drain()
    graft.core.SessionMemo.evict(spark)
  }
}
