package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/** In-engine TRAINED quality classifier — the step [[Scoring]]'s seam
  * deliberately stubs: instead of plugging an externally-trained model,
  * this op LEARNS a linear scorer inside the engine (CCNet trains its
  * fastText quality filter on wiki-vs-crawl labels, Wenzek et al. 2020
  * §4.3; LLaMA reproduces the recipe). Labels here are the Gopher rule
  * cascade's own pass/fail ([[Text.gopherFlags]] — one shared spelling,
  * so label and rule can never drift), making the trained model a
  * DISTILLATION of the rule set into a single calibrated margin: the
  * deploy shape where the cheap linear score replaces a 5-rule cascade
  * at scan time and its margin is threshold-tunable (the cascade's
  * binary pass is not).
  *
  * Training is full-batch gradient descent on logistic-style loss,
  * [[KMeans]]'s trainer discipline applied to a supervised model:
  *
  *  - the per-round weight vector is a 1-row broadcast frame (never a
  *    driver collect); the gradient is a per-(dim) FIXED-POINT sum —
  *    `floor(g·10⁶)` BIGINTs are exact and order-independent where
  *    double summation order varies per partitioning;
  *  - the link is the ALGEBRAIC sigmoid `0.5 + z/(2(1+|z|))` — same
  *    monotone S-shape, but built from +,·,/,|x| only, every one of
  *    which is IEEE-correctly-rounded and therefore BIT-IDENTICAL
  *    across engines. `exp` is not (libm vs libm), so true-σ training
  *    could never hash-match a DuckDB oracle; a production run without
  *    a cross-engine replay requirement swaps one expression;
  *  - features are fixed-scale affine maps of integer-exact text stats
  *    (no data-dependent standardization — the scale constants are part
  *    of the model spec, so a frozen model applies to any future batch
  *    without a stats pass).
  *
  * Loop hygiene is [[Graph.pageRank]]'s: per-round localCheckpoint of
  * the 5-row gradient and 1-row weight frames truncates plan growth;
  * superseded blocks freed. 100 TB posture: each round is ONE pass over
  * the pinned feature frame; the explode is 5 rows/doc collapsed
  * map-side to 5 rows/partition before the exchange, so shuffled rows
  * are O(dims × partitions), not O(docs); the weights ride a broadcast.
  * At corpus scale the trainer runs on a SAMPLE (train on a slice,
  * apply to the corpus — [[KMeans]]'s deploy note) and `apply` is a
  * pure per-row map, no shuffle.
  *
  * Oracle: the [[KMeans]]/[[Bpe]]-style R-round unrolled CTE chain —
  * w0 = 0⃗, per round an exploded fixed-point gradient CTE and a
  * rebuilt weight CTE, bit-stable end-to-end.
  */
object Classifier {

  private[ext] val NumRounds = 8
  private[ext] val Lr = 0.5
  private[ext] val NumDims = 5

  /** Feature frame (doc_id, y, x: ARRAY<DOUBLE>[5]) over (doc_id, text)
    * rows. y is the Gopher cascade's pass; x = [bias, wc/100,
    * mean_wlen/10, n_stops/9, ttr] — each a fixed affine map of an
    * integer-exact stat, spelled identically in [[oracles]]. */
  private[graft] def featureFrame(docs: DataFrame): DataFrame = {
    val t = split(col("text"), " ")
    Text.gopherFlags(docs)
      .withColumn("ttr",
        size(array_distinct(t)).cast(DoubleType) / size(t))
      .select(
        col("doc_id"),
        col("pass").cast(LongType).as("y"),
        array(
          lit(1.0),
          col("word_count").cast(DoubleType) / 100.0,
          col("mean_word_len") / 10.0,
          col("n_required_stops").cast(DoubleType) / 9.0,
          col("ttr")).as("x"))
  }

  /** One round's fixed-point gradient table (dim, qsum, n) under the
    * 1-row weight frame `wF`. p − y under the algebraic sigmoid; the
    * *1e6 floor quantizes each per-row contribution to an exact BIGINT.
    * The explode is 5 rows/doc, collapsed map-side by the partial
    * aggregate before the exchange (ClassifierSpec pins this). */
  private[graft] def gradStep(feats: DataFrame, wF: DataFrame): DataFrame = {
    val p = lit(0.5) + col("z") / (lit(2.0) * (lit(1.0) + abs(col("z"))))
    feats.crossJoin(broadcast(wF))
      .select(col("y"),
        graft.functions.ArrayDot(col("x"), col("w")).as("z"),
        col("x"))
      .select(col("y"), col("z"), posexplode(col("x")).as(Seq("dim", "xi")))
      .select(col("dim").cast(LongType).as("dim"),
        floor((p - col("y").cast(DoubleType)) * col("xi") * lit(1000000.0))
          .cast(LongType).as("q"))
      .groupBy(col("dim"))
      .agg(sum(col("q")).as("qsum"), count(lit(1)).as("n"))
  }

  /** The GD loop; returns (final 1-row weight frame, final gradient
    * table). Both stay checkpoint-live for the caller's plan; blocks
    * reclaimed by the ContextCleaner when the frames drop. */
  private def loop(feats: DataFrame, rounds: Int): (DataFrame, DataFrame) = {
    // counted local regime ([[LocalTrain.gdLocal]], r21): at gate scale
    // each of the `rounds` rounds is 2 eager checkpoint jobs over a
    // few-hundred-row feature frame — job scheduling, not math. One
    // task runs the whole loop when the features fit its heap; the
    // distributed loop stays the at-scale path.
    if (Iterate.solveLocally(feats.count(), Iterate.MaxGraphRows))
      return LocalTrain.gdLocal(feats, rounds, NumDims, Lr)
    var wF = feats.sparkSession.range(1)
      .select(array(Seq.fill(NumDims)(lit(0.0)): _*).as("w"))
      .localCheckpoint()
    var lastGrad: DataFrame = null
    for (_ <- 1 to rounds) {
      val grad = gradStep(feats, wF).localCheckpoint()
      val next = grad.crossJoin(broadcast(wF))
        .select(col("dim"),
          (element_at(col("w"), (col("dim") + 1).cast(IntegerType)) -
           lit(Lr) * (col("qsum").cast(DoubleType) / 1e6 / col("n"))).as("wv"))
        .agg(transform(array_sort(collect_list(struct(col("dim"), col("wv")))),
          s => s.getField("wv")).as("w"))
        .localCheckpoint()
      Graph.freeCheckpoint(wF)
      if (lastGrad != null) Graph.freeCheckpoint(lastGrad)
      wF = next
      lastGrad = grad
    }
    (wF, lastGrad)
  }

  /** Gate query: the final round's fixed-point gradient table plus the
    * trained weights quantized to BIGINT (`qw = ⌊w·10⁶⌋`) — all-integer
    * output, the [[KMeans]] hash-gate convention. */
  def qualityClfTrain(spark: SparkSession, dir: String): DataFrame = {
    val feats = graft.CacheScope.pin(
      featureFrame(Tables.documents(spark, dir)))
    val (wF, grad) = loop(feats, NumRounds)
    graft.Present.sorted(
      grad.crossJoin(broadcast(wF))
        .select(col("dim"), col("qsum"), col("n"),
          floor(element_at(col("w"), (col("dim") + 1).cast(IntegerType))
                * lit(1000000.0)).cast(LongType).as("qw")),
      col("dim"))
  }

  /** Gate query: the corpus scored under the trained weights — margin
    * (quantized), thresholded prediction, and agreement with the label
    * (the distillation-fidelity column a curation run reviews before
    * swapping cascade for classifier). Pure per-row map over the pinned
    * features once trained: the deploy path. */
  def qualityClfApply(spark: SparkSession, dir: String): DataFrame = {
    val feats = graft.CacheScope.pin(
      featureFrame(Tables.documents(spark, dir)))
    val (wF, grad) = loop(feats, NumRounds)
    Graph.freeCheckpoint(grad)
    graft.Present.sorted(
      feats.crossJoin(broadcast(wF))
        .select(col("doc_id"), col("y"),
          graft.functions.ArrayDot(col("x"), col("w")).as("z"))
        .select(col("doc_id"), col("y"),
          floor(col("z") * lit(1000000.0)).cast(LongType).as("zq"),
          when(col("z") >= 0, 1).otherwise(0).cast(IntegerType).as("pred"))
        .withColumn("correct",
          (col("pred") === col("y")).cast(IntegerType)),
      col("doc_id"))
  }

  /** FROZEN-model apply — the deployment contract [[qualityClfApply]]
    * can't show (it scores the corpus it trained on): weights train on
    * the HISTORY split ([[Dedup.IncrMod]], the shared increment
    * fixture) and score the UNSEEN batch. This is both the per-increment
    * curation shape (train once on banked corpus, score every arriving
    * batch against the frozen artifact — [[Bpe.bpeApply]]'s seam for
    * the model modality) and the generalization check: agreement on
    * documents the trainer never saw is the number that licenses
    * swapping cascade for classifier in the ingest path
    * (ClassifierSpec measures it beats the baseline). */
  def qualityClfFrozen(spark: SparkSession, dir: String): DataFrame = {
    val isNew = col("doc_id") % Dedup.IncrMod === 0
    val feats = graft.CacheScope.pin(
      featureFrame(Tables.documents(spark, dir)))
    val (wF, grad) = loop(feats.filter(!isNew), NumRounds)
    Graph.freeCheckpoint(grad)
    graft.Present.sorted(
      feats.filter(isNew).crossJoin(broadcast(wF))
        .select(col("doc_id"), col("y"),
          graft.functions.ArrayDot(col("x"), col("w")).as("z"))
        .select(col("doc_id"), col("y"),
          floor(col("z") * lit(1000000.0)).cast(LongType).as("zq"),
          when(col("z") >= 0, 1).otherwise(0).cast(IntegerType).as("pred"))
        .withColumn("correct",
          (col("pred") === col("y")).cast(IntegerType)),
      col("doc_id"))
  }

  /** Thresholds for [[qualityClfSweep]], in quantized-margin (⌊z·10⁶⌋)
    * units, spanning the corpus margin range (measured [−322k, 160k]
    * at the gate SFs). Part of the model spec like the feature
    * scales. */
  private[ext] val SweepTs = Seq(-300000L, -150000L, 0L, 75000L, 150000L)

  /** Threshold CALIBRATION sweep — the pre-deployment step between
    * training and the keep gate: confusion counts and precision /
    * recall / accuracy against the cascade labels at each candidate
    * margin cutoff. This is how the keep threshold is actually chosen
    * (CCNet tunes its score cut per corpus slice): the margin being
    * tunable is the distillation's advantage over the binary cascade,
    * and this table is the tuning artifact. One pass over the scored
    * corpus exploded across O(1) thresholds; counts integer-exact,
    * rates single IEEE divisions, zero-denominator → NULL (spelled
    * identically in both engines). */
  def qualityClfSweep(spark: SparkSession, dir: String): DataFrame = {
    val feats = graft.CacheScope.pin(
      featureFrame(Tables.documents(spark, dir)))
    val (wF, grad) = loop(feats, NumRounds)
    Graph.freeCheckpoint(grad)
    val scored = feats.crossJoin(broadcast(wF))
      .select(col("y"),
        floor(graft.functions.ArrayDot(col("x"), col("w")) * lit(1000000.0))
          .cast(LongType).as("zq"))
    def cnt(c: org.apache.spark.sql.Column) =
      sum(when(c, 1L).otherwise(0L))
    def rate(num: org.apache.spark.sql.Column,
             den: org.apache.spark.sql.Column) =
      when(den > 0, num.cast(DoubleType) / den).otherwise(lit(null))
    graft.Present.sorted(
      scored
        .select(col("y"), col("zq"),
          explode(array(SweepTs.map(lit): _*)).as("t"))
        .groupBy(col("t"))
        .agg(cnt(col("zq") >= col("t") && col("y") === 1).as("tp"),
             cnt(col("zq") >= col("t") && col("y") === 0).as("fp"),
             cnt(col("zq") < col("t") && col("y") === 1).as("fn"),
             cnt(col("zq") < col("t") && col("y") === 0).as("tn"))
        .withColumn("precision", rate(col("tp"), col("tp") + col("fp")))
        .withColumn("recall", rate(col("tp"), col("tp") + col("fn")))
        .withColumn("accuracy", rate(col("tp") + col("tn"),
          col("tp") + col("fp") + col("fn") + col("tn"))),
      col("t"))
  }

  /** Sample fractions (percent) for [[qualityClfSlice]] — 100 is the
    * reference model, so the agreement curve carries its own anchor. */
  private[ext] val SlicePs = Seq(25L, 50L, 100L)

  /** MEASURED train-on-a-slice posture — the scale claim above ("at
    * corpus scale the trainer runs on a SAMPLE") turned into numbers:
    * train the same GD loop on a p% hash slice of the corpus
    * ([[Corpus.trainTestSplit]]'s bucket rule, so the slice is the
    * reproducible kind a production sampler would take), score the
    * WHOLE corpus under each slice model, and report per p both label
    * accuracy and agreement with the full-corpus model — prediction
    * agreement and mean absolute quantized-margin gap. The p = 100 row
    * is the anchor (agreement 10⁶ ppm, gap 0 — a built-in self-check);
    * the 25/50 rows are the measurement an operator reads before
    * deciding how small the training sample may go. All-integer
    * output: counts, and ppm / micro-margin via integer DIV (the
    * [[Card]] discipline).
    *
    * Cost shape: |SlicePs| trainings over the pinned feature frame
    * (each round O(dims × partitions) shuffled rows), then |SlicePs|
    * pure per-row scorings joined doc_id-to-doc_id — the reference
    * scoring reuses the p = 100 model rather than training twice. */
  def qualityClfSlice(spark: SparkSession, dir: String): DataFrame = {
    val bucket = conv(substring(md5(col("doc_id").cast(StringType)), 1, 4),
        16, 10).cast(IntegerType) % 100
    val feats = graft.CacheScope.pin(
      featureFrame(Tables.documents(spark, dir)))
    def scoredUnder(p: Long): DataFrame = {
      val (wF, grad) = loop(feats.filter(bucket < p), NumRounds)
      Graph.freeCheckpoint(grad)
      feats.crossJoin(broadcast(wF))
        .select(col("doc_id"), col("y"),
          floor(graft.functions.ArrayDot(col("x"), col("w")) * lit(1000000.0))
            .cast(LongType).as("zq"))
        .withColumn("pred", when(col("zq") >= 0, 1L).otherwise(0L))
    }
    val ref = scoredUnder(100L)
      .select(col("doc_id"), col("zq").as("zq_ref"), col("pred").as("pred_ref"))
      .localCheckpoint()
    val rows = SlicePs.map { p =>
      val sc = if (p == 100L) {
        // same model as ref — reuse instead of retraining
        ref.select(col("doc_id"), col("zq_ref").as("zq"),
          col("pred_ref").as("pred"))
          .join(feats.select(col("doc_id"), col("y")), "doc_id")
      } else scoredUnder(p)
      val nTrain = feats.filter(bucket < p).count()
      sc.join(ref, "doc_id")
        .agg(count(lit(1)).as("n"),
          sum(when(col("pred").cast(LongType) === col("y"), 1L)
            .otherwise(0L)).as("n_acc"),
          sum(when(col("pred").cast(LongType) === col("pred_ref")
                     .cast(LongType), 1L).otherwise(0L)).as("n_agree"),
          sum(abs(col("zq") - col("zq_ref"))).as("gap_sum"))
        .select(lit(p).as("p"), lit(nTrain).as("n_train"),
          expr("CAST(n_acc * 1000000 DIV n AS BIGINT)").as("acc_ppm"),
          expr("CAST(n_agree * 1000000 DIV n AS BIGINT)").as("agree_ppm"),
          expr("CAST(gap_sum DIV n AS BIGINT)").as("margin_gap_q"))
    }
    graft.Present.sorted(rows.reduce(_ unionByName _), col("p"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "quality_clf_train" -> qualityClfTrain _,
    "quality_clf_apply" -> qualityClfApply _,
    "quality_clf_frozen" -> qualityClfFrozen _,
    "quality_clf_sweep" -> qualityClfSweep _,
    "quality_clf_slice" -> qualityClfSlice _)

  // ---- oracles (generated R-round unrolled CTE chains) ----

  /** Label CTE: [[Text.gopherPassSql]] VERBATIM — one spelling for the
    * label rule, shared with the gopher/funnel gates. MATERIALIZED:
    * the frozen oracle references it from both split CTEs, and DuckDB
    * inlines an unmaterialized corpus-wide cascade per reference. */
  private def ypCte: String = s"yp AS MATERIALIZED (${Text.gopherPassSql})"

  /** Named feature CTE over documents matching `docPred` — the
    * fixed-scale feature arrays. */
  private def fCte(name: String, docPred: String = "TRUE"): String = {
    val stops = Text.GopherStops.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""$name AS MATERIALIZED (
       |  SELECT d.doc_id, CAST(yp.pass AS BIGINT) AS y,
       |    [1.0,
       |     CAST(len(toks) AS DOUBLE) / 100.0,
       |     (CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
       |        / len(toks)) / 10.0,
       |     CAST(len(list_filter($stops,
       |            w -> list_contains(list_distinct(toks), w))) AS DOUBLE) / 9.0,
       |     CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)] AS x
       |  FROM (SELECT doc_id, string_split(text, ' ') AS toks
       |        FROM documents WHERE $docPred) d
       |  JOIN yp ON yp.doc_id = d.doc_id)""".stripMargin
  }

  private def featureCtes: String = s"$ypCte,\n${fCte("f")}"

  /** `pfx` namespaces the per-round CTEs so several independent
    * trainings (the slice sweep) can share one WITH; every prefix's
    * round 1 starts from the shared zero-weight `w0`. */
  private def roundCtes(r: Int, src: String = "f",
                        pfx: String = ""): String = (1 to r).map { i =>
    val prev = if (i == 1) "w0" else s"${pfx}w${i - 1}"
    s"""${pfx}g$i AS MATERIALIZED (
       |  SELECT CAST(i - 1 AS BIGINT) AS dim,
       |    CAST(sum(q) AS BIGINT) AS qsum, CAST(count(*) AS BIGINT) AS n
       |  FROM (
       |    SELECT i,
       |      CAST(floor(((0.5 + z / (2.0 * (1.0 + abs(z)))) - CAST(y AS DOUBLE))
       |                 * x[i] * 1000000.0) AS BIGINT) AS q
       |    FROM (SELECT y, x, list_dot_product(x, w) AS z,
       |                 unnest(range(1, len(x) + 1)) AS i
       |          FROM $src CROSS JOIN $prev))
       |  GROUP BY 1),
       |${pfx}w$i AS (
       |  SELECT array_agg(wv ORDER BY dim) AS w FROM (
       |    SELECT g.dim,
       |      w.w[CAST(g.dim AS INTEGER) + 1]
       |        - $Lr * (CAST(g.qsum AS DOUBLE) / 1e6 / g.n) AS wv
       |    FROM ${pfx}g$i g CROSS JOIN $prev w))""".stripMargin
  }.mkString(",\n")

  private def w0Cte: String =
    s"w0 AS (SELECT ${Seq.fill(NumDims)("0.0").mkString("[", ", ", "]")} AS w)"

  val oracles: Map[String, String] = Map(
    "quality_clf_train" ->
      s"""WITH $featureCtes,
         |$w0Cte,
         |${roundCtes(NumRounds)}
         |SELECT g.dim, g.qsum, g.n,
         |  CAST(floor(w.w[CAST(g.dim AS INTEGER) + 1] * 1000000.0) AS BIGINT)
         |    AS qw
         |FROM g$NumRounds g CROSS JOIN w$NumRounds w
         |ORDER BY dim""".stripMargin,
    "quality_clf_apply" ->
      s"""WITH $featureCtes,
         |$w0Cte,
         |${roundCtes(NumRounds)}
         |SELECT doc_id, y, zq, pred,
         |  CAST(CASE WHEN pred = CAST(y AS INTEGER) THEN 1 ELSE 0 END
         |       AS INTEGER) AS correct
         |FROM (
         |  SELECT f.doc_id, f.y,
         |    CAST(floor(list_dot_product(f.x, w.w) * 1000000.0) AS BIGINT)
         |      AS zq,
         |    CAST(CASE WHEN list_dot_product(f.x, w.w) >= 0 THEN 1 ELSE 0 END
         |         AS INTEGER) AS pred
         |  FROM f CROSS JOIN w$NumRounds w)
         |ORDER BY doc_id""".stripMargin,
    "quality_clf_sweep" -> {
      val ts = SweepTs.mkString("[", ", ", "]")
      s"""WITH $ypCte,
         |${fCte("f")},
         |$w0Cte,
         |${roundCtes(NumRounds)},
         |sc AS (
         |  SELECT f.y,
         |    CAST(floor(list_dot_product(f.x, w.w) * 1000000.0) AS BIGINT)
         |      AS zq
         |  FROM f CROSS JOIN w$NumRounds w),
         |x AS (SELECT y, zq, unnest($ts) AS t FROM sc),
         |a AS (
         |  SELECT CAST(t AS BIGINT) AS t,
         |    CAST(sum(CASE WHEN zq >= t AND y = 1 THEN 1 ELSE 0 END)
         |         AS BIGINT) AS tp,
         |    CAST(sum(CASE WHEN zq >= t AND y = 0 THEN 1 ELSE 0 END)
         |         AS BIGINT) AS fp,
         |    CAST(sum(CASE WHEN zq < t AND y = 1 THEN 1 ELSE 0 END)
         |         AS BIGINT) AS fn,
         |    CAST(sum(CASE WHEN zq < t AND y = 0 THEN 1 ELSE 0 END)
         |         AS BIGINT) AS tn
         |  FROM x GROUP BY 1)
         |SELECT t, tp, fp, fn, tn,
         |  CASE WHEN tp + fp > 0 THEN CAST(tp AS DOUBLE) / (tp + fp) END
         |    AS "precision",
         |  CASE WHEN tp + fn > 0 THEN CAST(tp AS DOUBLE) / (tp + fn) END
         |    AS recall,
         |  CASE WHEN tp + fp + fn + tn > 0
         |       THEN CAST(tp + tn AS DOUBLE) / (tp + fp + fn + tn) END
         |    AS accuracy
         |FROM a ORDER BY t""".stripMargin
    },
    "quality_clf_slice" -> {
      val bucketSql =
        "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INTEGER % 100"
      // one training per slice prefix (a=25, b=50, c=100 = reference),
      // all from the shared w0; each slice model scores the FULL corpus
      val slices = Seq(("a", 25L), ("b", 50L), ("c", 100L))
      val sliceCtes = slices.map { case (pfx, p) =>
        s"""${pfx}f AS MATERIALIZED (
           |  SELECT * FROM f WHERE $bucketSql < $p),
           |${roundCtes(NumRounds, s"${pfx}f", pfx)},
           |${pfx}scr AS MATERIALIZED (
           |  SELECT f.doc_id, f.y,
           |    CAST(floor(list_dot_product(f.x, w.w) * 1000000.0) AS BIGINT)
           |      AS zq
           |  FROM f CROSS JOIN ${pfx}w$NumRounds w)""".stripMargin
      }.mkString(",\n")
      val rows = slices.map { case (pfx, p) =>
        s"""SELECT CAST($p AS BIGINT) AS p,
           |  (SELECT CAST(count(*) AS BIGINT) FROM ${pfx}f) AS n_train,
           |  CAST(sum(CASE WHEN (CASE WHEN s.zq >= 0 THEN 1 ELSE 0 END) = s.y
           |           THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT)
           |    AS acc_ppm,
           |  CAST(sum(CASE WHEN (CASE WHEN s.zq >= 0 THEN 1 ELSE 0 END)
           |                   = (CASE WHEN r.zq >= 0 THEN 1 ELSE 0 END)
           |           THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT)
           |    AS agree_ppm,
           |  CAST(sum(abs(s.zq - r.zq)) // count(*) AS BIGINT) AS margin_gap_q
           |FROM ${pfx}scr s JOIN cscr r ON r.doc_id = s.doc_id""".stripMargin
      }.mkString("\nUNION ALL ")
      s"""WITH $ypCte,
         |${fCte("f")},
         |$w0Cte,
         |$sliceCtes
         |SELECT * FROM (
         |$rows)
         |ORDER BY p""".stripMargin
    },
    "quality_clf_frozen" -> {
      val mod = Dedup.IncrMod
      s"""WITH $ypCte,
         |${fCte("fh", s"doc_id % $mod <> 0")},
         |${fCte("fb", s"doc_id % $mod = 0")},
         |$w0Cte,
         |${roundCtes(NumRounds, "fh")}
         |SELECT doc_id, y, zq, pred,
         |  CAST(CASE WHEN pred = CAST(y AS INTEGER) THEN 1 ELSE 0 END
         |       AS INTEGER) AS correct
         |FROM (
         |  SELECT f.doc_id, f.y,
         |    CAST(floor(list_dot_product(f.x, w.w) * 1000000.0) AS BIGINT)
         |      AS zq,
         |    CAST(CASE WHEN list_dot_product(f.x, w.w) >= 0 THEN 1 ELSE 0 END
         |         AS INTEGER) AS pred
         |  FROM fb f CROSS JOIN w$NumRounds w)
         |ORDER BY doc_id""".stripMargin
    })
}
