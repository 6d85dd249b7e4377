package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The nine-stage curation funnel over a planted corpus, rebuilt from the
  * public `graft.ops` calls: near-dedup, LM training and adaptive
  * threshold, classifier training, the fused gate flags, span dedup, and
  * token-budget mix with packing and deterministic shuffle. No UDF tier is
  * on the path: `ops` and Spark's exchange, sort, spill and checkpoint I/O
  * do the work. A traced run drives it as the probe of the `ops` layer. */
final class Funnel(base: SparkSession, work: String, seed: Long, nDocs: Long) {
  private var s: SparkSession = _
  private var corpusDir: String = _

  import Funnel.Report

  /** Planted corpus: ids with id % 20 < 2 share a base `b` (n/20 exact
    * duplicate pairs); every other token embeds `b`, so unique docs share no
    * shingle run; ÷11 of b get a C4-killing line, ÷17 a gopher-killing
    * symbol line, ÷3 an extra line, ÷23 one corpus-wide shared sentence
    * (the span-dedup target); ÷2 of b write with real stopwords. The seed
    * enters every hashed token. */
  private def writeCorpus(dir: String): Unit = {
    def tok(k: Int) = s"' w', b, '_', pmod(hash(b, $k, ${seed}L), 1000000)"
    def line(k0: Int) = s"concat(c1, ${tok(k0)}, ' ', c2, ${tok(k0 + 1)}, ' ', c3, " +
      s"${tok(k0 + 2)}, ' runs', ${tok(k0 + 3)}, ' fine.')"
    base.range(nDocs)
      .selectExpr("id AS doc_id", "CAST(pmod(id, 20) AS STRING) AS source",
        s"CASE WHEN id % 20 < 2 THEN id div 20 ELSE ${nDocs}L + id END AS b")
      .selectExpr("doc_id", "source", "b",
        "CASE WHEN b % 2 = 0 THEN 'the' ELSE 'thus' END AS c1",
        "CASE WHEN b % 2 = 0 THEN 'of' ELSE 'per' END AS c2",
        "CASE WHEN b % 2 = 0 THEN 'and' ELSE 'via' END AS c3")
      .selectExpr("doc_id", "source", "b",
        s"""concat_ws(chr(10),
           |  ${line(1)},
           |  CASE WHEN b % 5 = 0 THEN concat(c1, ' ', c2, ' ', c3, ' runs', ${tok(5)},
           |    ' fine. ', c1, ' ', c2, ' ', c3, ' runs fine.') ELSE ${line(5)} END,
           |  CASE WHEN b % 11 = 0 THEN 'style { color: red }' ELSE ${line(9)} END,
           |  CASE WHEN b % 3 = 0 THEN concat(c1, ${tok(13)}, ' ', c2, ${tok(14)}, ' ', c3,
           |    ${tok(15)}, ' walks', ${tok(16)}, ' fine.') ELSE NULL END,
           |  CASE WHEN b % 17 = 0 THEN 'spam ########## mark.' ELSE NULL END,
           |  CASE WHEN b % 23 = 0 THEN
           |    'the common span sentence continues with nine exact words.' ELSE NULL END)
           |  AS text""".stripMargin)
      .write.parquet(dir)
  }

  def setUp(): Unit = {
    s = base.newSession()
    graft.Graft.install(s)
    corpusDir = s"$work/fixtures/corpus"
    writeCorpus(corpusDir)
  }

  def tearDown(): Unit = Fixture.rmrf(new java.io.File(corpusDir))

  private def checkpoint(df: DataFrame): DataFrame = {
    if (Trace.on) Trace.span("build", "spark")(df.queryExecution.executedPlan)
    Trace.span("execute", "spark")(df.localCheckpoint(eager = true, StorageLevel.DISK_ONLY))
  }

  /** One funnel run. Stage boundaries are the funnel's eager points
    * (checkpoints and collects), so each stage's wall is its own cost. */
  def run(counters: SparkCounters, group: String, tag: String): Report = {
    val stages = Seq.newBuilder[(String, Double)]
    def stage[A](name: String)(f: => A): A = {
      val t0 = Clock.now()
      val a = counters.inGroup(s, s"$group.$name")(Trace.span("stage:" + name, "ops")(f))
      stages += name -> Clock.secondsSince(t0)
      a
    }
    val docs = stage("load")(checkpoint(s.read.parquet(corpusDir)))
    val surv = stage("near_dedup") {
      checkpoint(graft.ops.Dedup.nearDedupCorpus(docs, "text", "doc_id")
        .select(col("doc_id"), lit(true).as("f_dedup")))
    }
    val lmm = stage("lm_train")(graft.ops.LangModel.trainUnigram(docs, "text", vocabSize = 10000))
    val thr = stage("lm_threshold") {
      graft.ops.LangModel.adaptiveThreshold(
        docs.select(graft.ops.LangModel.bitsPerTokCol(s, lmm, "text").as("bits_per_tok")),
        "bits_per_tok", 10)
    }
    val clf = stage("clf_train") {
      checkpoint(graft.ops.Classifier.qualityClassifier(docs, "text", "doc_id",
        "CASE WHEN b % 2 = 0 THEN 1.0 ELSE 0.0 END", iters = 8)
        .select(col("doc_id"), col("pred").as("f_clf")))
    }
    val (flags, f) = stage("flags") {
      val flags = checkpoint(docs.select(col("doc_id"), col("source"), col("text"),
          graft.ops.Curation.c4Pass(col("text")).as("f_c4"),
          graft.ops.Curation.gopherPass(col("text"), minWords = 20,
            stopList = Seq("runs", "fine.")).as("f_gopher"),
          (graft.ops.LangModel.bitsPerTokCol(s, lmm, "text")
            <= lit(thr.getOrElse(Long.MinValue))).as("f_lm"))
        .join(clf, "doc_id")
        .join(surv, Seq("doc_id"), "left").na.fill(false, Seq("f_dedup")))
      val f = flags.agg(count(lit(1)), sum(col("f_dedup").cast("long")),
          sum(col("f_c4").cast("long")), sum(col("f_gopher").cast("long")),
          sum(col("f_lm").cast("long")), sum(col("f_clf").cast("long")))
        .collect().head
      (flags, f)
    }
    val (keepToks, svToks, sv) = stage("span_dedup") {
      val keep = checkpoint(flags
        .where(col("f_dedup") && col("f_c4") && col("f_gopher") && col("f_lm") && col("f_clf"))
        .select("doc_id", "source", "text"))
      val sd = graft.ops.Curation.dedupSpans(keep, "text", "doc_id", n = 8)
      val sv = checkpoint(sd.join(keep.select("doc_id", "source"), "doc_id")
        .selectExpr("source", "doc_id", "token_count(kept_text) AS n_tok"))
      val keepToks = keep.selectExpr("CAST(sum(token_count(text)) AS BIGINT) t")
        .collect().head.getLong(0)
      val svToks = sv.agg(sum(col("n_tok"))).collect().head.getLong(0)
      (keepToks, svToks, sv)
    }
    val (nMix, nOut) = stage("mix_pack") {
      val mixed = checkpoint(graft.ops.Curation.tokenBudgetMix(sv, "source", "doc_id",
        "n_tok", budget = 100000, salt = tag))
      val packed = graft.ops.Curation.packSequences(
        mixed.select("source", "doc_id", "n_tok"), "source", "doc_id", "n_tok", budget = 2048)
      val pos = graft.ops.Curation.deterministicShuffle(mixed.select("doc_id"), "doc_id", tag + "s")
      (mixed.count(), packed.join(pos, "doc_id").count())
    }
    val counts = Map("n" -> f.getLong(0), "dedup" -> f.getLong(1), "c4" -> f.getLong(2),
      "gopher" -> f.getLong(3), "lm" -> f.getLong(4), "clf" -> f.getLong(5),
      "keep_tokens" -> keepToks, "span_tokens" -> svToks, "mixed" -> nMix, "out" -> nOut)
    val n0 = counts("n")
    val violations =
      (if (counts("dedup") != nDocs - nDocs / 20)
        Seq(s"expected ${nDocs - nDocs / 20} dedup survivors, got ${counts("dedup")}") else Nil) ++
      Seq("c4", "gopher", "lm", "clf").collect {
        case g if !(counts(g) > 0 && counts(g) < n0) => s"gate $g vacuous: ${counts(g)} of $n0"
      } ++
      (if (svToks >= keepToks) Seq(s"span dedup did not fire: $keepToks in, $svToks out") else Nil) ++
      (if (!(nMix > 0 && nOut == nMix)) Seq(s"pack/shuffle not 1:1: $nMix -> $nOut") else Nil)
    Report(stages.result(), counts, violations)
  }
}

object Funnel {
  /** Per-run funnel report: stage walls (s), the exact counts, and any
    * violated invariant. */
  final case class Report(stages: Seq[(String, Double)], counts: Map[String, Long],
                          violations: Seq[String])
}
