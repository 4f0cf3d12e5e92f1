package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/** Distributed Lloyd's k-means over the embedding corpus — the
  * TRAINED coarse quantizer the IVF family ([[Similarity]]) assumes:
  * X10's cells come from a pre-assigned label column; this op LEARNS
  * the codebook, which is how a production IVF/SemDeDup deployment
  * actually gets one (train on a sample, assign the corpus).
  *
  * Per round (classic assign/update):
  *   - ASSIGN: score = |c|² − 2·v·c (the |v|² term is constant per
  *     vector, so dropping it preserves the argmin — and keeps the
  *     expression two [[graft.functions.ArrayDot]] codegen'd dots, no
  *     per-pair difference array). Candidates = corpus × broadcast
  *     codebook (K rows); the per-vector argmin is a MIN-STRUCT
  *     aggregate with map-side partial collapse — each vector's K
  *     score rows reduce before the exchange, so shuffled rows are
  *     O(vectors), and ties break on cell id identically in both
  *     engines.
  *   - UPDATE: per-(cell, dim) FIXED-POINT sums (floor(x·10⁶) BIGINT —
  *     [[Similarity]]'s centroidRows trick: double summation order
  *     varies per partitioning, quantized longs are exact and
  *     order-independent), centroid = qsum/10⁶/n rebuilt into a
  *     dim-sorted vector; an EMPTIED cell keeps its previous centroid
  *     (left-join coalesce — the deterministic spelling of the
  *     standard k-means empty-cell rule).
  *
  * Loop hygiene is [[Graph.pageRank]]'s: per-round localCheckpoint
  * (the codebook is K rows — the checkpoint truncates plan growth,
  * not data), superseded blocks freed, no driver collects. Init is
  * the first K vectors (deterministic; a production run seeds
  * k-means++ from a sample — only `init` changes).
  *
  * Gate output is the final round's UPDATE table (cell, dim, qsum, n)
  * — all BIGINT, so the hash gate sees integers even though the
  * inter-round centroids are doubles (deterministic: fixed-order dots
  * over values derived from exact integer sums). Oracle is the
  * [[Bpe]]/[[Graph]]-style R-round unrolled CTE chain.
  */
object KMeans {

  private[ext] val NumCells  = 8
  private[ext] val NumRounds = 4

  def kmeansTrain(spark: SparkSession, dir: String,
                  k: Int = NumCells, rounds: Int = NumRounds): DataFrame =
    kmeansFrame(
      Tables.embeddings(spark, dir)
        .select(col("vec_id"), Vectors.asDouble(col("embedding")).as("v")),
      k, rounds)

  /** Frame-level trainer: `in` needs (vec_id, v: ARRAY<DOUBLE>). */
  def kmeansFrame(in: DataFrame, k: Int, rounds: Int): DataFrame = {
    val (codebook, lastUpdate) = loop(graft.CacheScope.pin(in), k, rounds)
    Graph.freeCheckpoint(codebook)
    graft.Present.sorted(
      lastUpdate.select(col("cell"), col("dim").cast(LongType).as("dim"),
                        col("qsum"), col("n")),
      col("cell"), col("dim"))
  }

  /** Final codebook (cell, cv) after `rounds` — for [[ivfAssign]] and
    * [[IvfPq]]'s coarse quantizer. The K-row checkpoint stays live for
    * the caller's plan; its blocks are reclaimed by the ContextCleaner
    * when the frame drops. */
  private[ext] def trainedCodebook(vecs: DataFrame, k: Int,
                                   rounds: Int): DataFrame = {
    val (codebook, lastUpdate) = loop(vecs, k, rounds)
    Graph.freeCheckpoint(lastUpdate)
    codebook
  }

  /** Final codebook from an EXPLICIT seed frame (cell, cv) — the
    * history-trained quantizer in [[Dedup.dedupEmbIncremental]] seeds
    * rank-stably from its own split, where the default `vec_id < k`
    * rule would pick a hole-ridden seed set. */
  private[ext] def trainedCodebookFrom(vecs: DataFrame, codebook0: DataFrame,
                                       rounds: Int): DataFrame = {
    val (codebook, lastUpdate) = loopFrom(vecs, codebook0, rounds)
    Graph.freeCheckpoint(lastUpdate)
    codebook
  }

  /** The Lloyd loop; returns (final codebook, final update table). */
  private def loop(vecs: DataFrame, k: Int,
                   rounds: Int): (DataFrame, DataFrame) =
    loopFrom(vecs,
      vecs.filter(col("vec_id") < k)
        .select(col("vec_id").cast(LongType).as("cell"), col("v").as("cv")),
      rounds)

  /** [[loop]] from an explicit seed codebook (cell, cv). */
  private[ext] def loopFrom(vecs: DataFrame, codebook0: DataFrame,
                            rounds: Int): (DataFrame, DataFrame) = {
    // counted local regime ([[LocalTrain.lloydLocal]], r21): each round
    // is 2 eager checkpoint jobs; below the vector bound one task runs
    // every round. KMeans is the one-group instance of [[Pq]]'s grouped
    // Lloyd loop, so both share the solver (sub pinned to 0 here).
    if (Iterate.solveLocally(vecs.count(), Iterate.MaxVecRows)) {
      val (cb, upd) = LocalTrain.lloydLocal(
        vecs.select(lit(0L).as("sub"), col("v").as("sv")),
        codebook0.select(lit(0L).as("sub"), col("cell"), col("cv")),
        rounds)
      return (cb.select(col("cell"), col("cv")),
              upd.select(col("cell"), col("dim"), col("qsum"), col("n")))
    }
    var codebook = codebook0.localCheckpoint()
    var lastUpdate: DataFrame = null
    for (_ <- 1 to rounds) {
      val scored = vecs.crossJoin(broadcast(codebook))
        .select(col("vec_id"), col("v"), col("cell"),
          (graft.functions.ArrayDot(col("cv"), col("cv")) -
           lit(2.0) * graft.functions.ArrayDot(col("v"), col("cv")))
            .as("score"))
      val assigned = scored
        .groupBy(col("vec_id"))
        .agg(min(struct(col("score"), col("cell"))).as("b"),
             first(col("v")).as("v")) // v is functionally dependent
        .select(col("b.cell").as("cell"), col("v"))
      val update = assigned
        .select(col("cell"), posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy(col("cell"), col("dim"))
        .agg(sum(floor(col("x") * 1e6).cast(LongType)).as("qsum"),
             count(lit(1)).as("n"))
        .localCheckpoint()
      val rebuilt = update
        .groupBy(col("cell"))
        .agg(transform(
          array_sort(collect_list(struct(col("dim"),
            (col("qsum").cast(DoubleType) / 1e6 / col("n")).as("c")))),
          s => s.getField("c")).as("ucv"))
      val next = codebook.join(rebuilt, Seq("cell"), "left")
        .select(col("cell"), coalesce(col("ucv"), col("cv")).as("cv"))
        .localCheckpoint()
      Graph.freeCheckpoint(codebook)
      if (lastUpdate != null) Graph.freeCheckpoint(lastUpdate)
      codebook = next
      lastUpdate = update
    }
    (codebook, lastUpdate)
  }

  /** Corpus ASSIGNMENT under the trained codebook — the deploy step
    * that turns [[kmeansTrain]]'s artifact into X10's `label` column
    * (train on a sample, assign the corpus): one broadcast of the K
    * final centroids, one argmin pass, integer output. */
  def ivfAssign(spark: SparkSession, dir: String,
                k: Int = NumCells, rounds: Int = NumRounds): DataFrame = {
    val vecs = graft.CacheScope.pin(
      Tables.embeddings(spark, dir)
        .select(col("vec_id"), Vectors.asDouble(col("embedding")).as("v")))
    graft.Present.sorted(
      assignCells(vecs, trainedCodebook(vecs, k, rounds)), col("vec_id"))
  }

  /** Argmin cell assignment of (vec_id, v) rows under a (cell, cv)
    * codebook → (vec_id, cell). The codebook broadcasts (K rows); the
    * min-struct collapses map-side, so shuffled rows are O(vectors). */
  private[ext] def assignCells(vecs: DataFrame,
                               codebook: DataFrame): DataFrame =
    vecs.crossJoin(broadcast(codebook))
      .select(col("vec_id"), col("cell"),
        (graft.functions.ArrayDot(col("cv"), col("cv")) -
         lit(2.0) * graft.functions.ArrayDot(col("v"), col("cv")))
          .as("score"))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("score"), col("cell"))).as("b"))
      .select(col("vec_id"), col("b.cell").as("cell"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "kmeans_train" -> ((s, d) => kmeansTrain(s, d)),
    "ivf_assign"   -> ((s, d) => ivfAssign(s, d)))

  /** Oracle CTE prelude: `${p}v` vector frame + `${p}c0` seed codebook.
    * The name prefix lets [[IvfPq]] compose this chain with [[Pq]]'s in
    * ONE oracle without CTE-name collisions — one source of truth, the
    * fragments can't drift. */
  private[ext] def vCtes(k: Int, p: String = ""): String =
    s"""${p}v AS MATERIALIZED (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |${p}c0 AS (SELECT CAST(vec_id AS BIGINT) AS cell, v AS cv
       |       FROM ${p}v WHERE vec_id < $k)""".stripMargin

  private[ext] def roundCtes(r: Int, p: String = ""): String = (1 to r).map { i =>
    s"""${p}a$i AS (
       |  SELECT vec_id, v, cell FROM (
       |    SELECT x.vec_id, x.v, c.cell,
       |      row_number() OVER (PARTITION BY x.vec_id ORDER BY
       |        list_dot_product(c.cv, c.cv)
       |          - 2 * list_dot_product(x.v, c.cv), c.cell) AS rn
       |    FROM ${p}v x CROSS JOIN ${p}c${i - 1} c)
       |  WHERE rn = 1),
       |${p}u$i AS MATERIALIZED (
       |  SELECT cell, i - 1 AS dim,
       |    CAST(sum(floor(v[i] * 1000000)) AS BIGINT) AS qsum,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM (SELECT cell, v, unnest(range(1, len(v) + 1)) AS i FROM ${p}a$i)
       |  GROUP BY 1, 2),
       |${p}c$i AS MATERIALIZED (
       |  SELECT p.cell, coalesce(u.cv, p.cv) AS cv
       |  FROM ${p}c${i - 1} p LEFT JOIN (
       |    SELECT cell, array_agg(qsum / 1e6 / n ORDER BY dim) AS cv
       |    FROM ${p}u$i GROUP BY cell) u ON u.cell = p.cell)""".stripMargin
  }.mkString(",\n")

  /** Argmin-assignment oracle fragment over the final `${p}c$r`. */
  private[ext] def assignSql(r: Int, p: String = ""): String =
    s"""SELECT vec_id, cell FROM (
       |  SELECT x.vec_id, c.cell,
       |    row_number() OVER (PARTITION BY x.vec_id ORDER BY
       |      list_dot_product(c.cv, c.cv)
       |        - 2 * list_dot_product(x.v, c.cv), c.cell) AS rn
       |  FROM ${p}v x CROSS JOIN ${p}c$r c)
       |WHERE rn = 1""".stripMargin

  val oracles: Map[String, String] = Map(
    "kmeans_train" ->
      s"""WITH ${vCtes(NumCells)},
         |${roundCtes(NumRounds)}
         |SELECT cell, dim, qsum, n FROM u$NumRounds
         |ORDER BY cell, dim""".stripMargin,
    "ivf_assign" ->
      s"""WITH ${vCtes(NumCells)},
         |${roundCtes(NumRounds)}
         |${assignSql(NumRounds)} ORDER BY vec_id""".stripMargin)
}
