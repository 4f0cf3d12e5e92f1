package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/** Product quantization (Jégou et al. 2011) — the memory-bound ANN
  * representation at corpus scale: split each D-dim vector into M
  * subspaces and vector-quantize each subspace independently with its
  * own K-codeword codebook, so a vector stores as M small codes
  * (M·log₂K bits) instead of D floats and distance evaluation becomes
  * M table lookups (ADC). [[Similarity]]'s int8 path (X11/X47)
  * compresses 4× per dimension; PQ at M=4, K=8 here stores 64 floats
  * in 4×3 bits — the representation IVF-PQ indexes actually ship.
  *
  * Training is [[KMeans]]'s Lloyd loop run over (subspace, cell) keys
  * in ONE set of jobs — all M codebooks train simultaneously, not M
  * sequential loops: the subvector frame carries `sub`, the codebook
  * broadcast carries `sub`, and the assign join constrains on it, so
  * each subspace only ever scores against its own codewords. All of
  * [[KMeans]]'s determinism decisions carry over verbatim (argmin via
  * |c|²−2·v·c min-struct with map-side collapse, fixed-point exact
  * update sums, empty-cell keep-seed, R-round unrolled MATERIALIZED
  * oracle, zero driver collects).
  */
object Pq {

  private[graft] val NumSubs   = 4
  private[ext] val NumCells  = 8
  private[ext] val NumRounds = 3

  /** (vec_id, sub, sv) — the subvector frame. `dims` must divide into
    * [[NumSubs]] equal slices; the synthetic embeddings are 64-dim. */
  private[ext] def subVectors(in: DataFrame, m: Int): DataFrame = {
    val d = size(col("v"))
    in.select(col("vec_id"),
        explode(sequence(lit(0), lit(m - 1))).as("sub"), col("v"))
      .select(col("vec_id"), col("sub").cast(LongType).as("sub"),
        slice(col("v"), (col("sub") * (d / m) + 1).cast(IntegerType),
              (d / m).cast(IntegerType)).as("sv"))
  }

  private def score =
    (graft.functions.ArrayDot(col("cv"), col("cv")) -
     lit(2.0) * graft.functions.ArrayDot(col("sv"), col("cv"))).as("score")

  /** The grouped Lloyd loop; returns (codebooks (sub, cell, cv), final
    * update table (sub, cell, dim, qsum, n)). */
  private[ext] def loop(subVecs: DataFrame, k: Int,
                        rounds: Int): (DataFrame, DataFrame) = {
    // counted local regime ([[LocalTrain.lloydLocal]], r21) — the
    // grouped Lloyd loop's rounds collapse into one task below the
    // vector bound; [[KMeans.loopFrom]] shares the same solver.
    if (Iterate.solveLocally(subVecs.count(), Iterate.MaxVecRows))
      return LocalTrain.lloydLocal(
        subVecs.select(col("sub"), col("sv")),
        subVecs.filter(col("vec_id") < k)
          .select(col("sub"), col("vec_id").cast(LongType).as("cell"),
                  col("sv").as("cv")),
        rounds)
    var codebook = subVecs.filter(col("vec_id") < k)
      .select(col("sub"), col("vec_id").cast(LongType).as("cell"),
              col("sv").as("cv"))
      .localCheckpoint()
    var lastUpdate: DataFrame = null
    for (_ <- 1 to rounds) {
      val assigned = subVecs.join(broadcast(codebook), "sub")
        .select(col("vec_id"), col("sub"), col("sv"), col("cell"), score)
        .groupBy(col("vec_id"), col("sub"))
        .agg(min(struct(col("score"), col("cell"))).as("b"),
             first(col("sv")).as("sv")) // sv functionally dependent
        .select(col("sub"), col("b.cell").as("cell"), col("sv"))
      val update = assigned
        .select(col("sub"), col("cell"), posexplode(col("sv")).as(Seq("dim", "x")))
        .groupBy(col("sub"), col("cell"), col("dim"))
        .agg(sum(floor(col("x") * 1e6).cast(LongType)).as("qsum"),
             count(lit(1)).as("n"))
        .localCheckpoint()
      val rebuilt = update
        .groupBy(col("sub"), col("cell"))
        .agg(transform(
          array_sort(collect_list(struct(col("dim"),
            (col("qsum").cast(DoubleType) / 1e6 / col("n")).as("c")))),
          s => s.getField("c")).as("ucv"))
      val next = codebook.join(rebuilt, Seq("sub", "cell"), "left")
        .select(col("sub"), col("cell"),
                coalesce(col("ucv"), col("cv")).as("cv"))
        .localCheckpoint()
      Graph.freeCheckpoint(codebook)
      if (lastUpdate != null) Graph.freeCheckpoint(lastUpdate)
      codebook = next
      lastUpdate = update
    }
    (codebook, lastUpdate)
  }

  /** Gate query: the final per-(subspace, cell, dim) update table —
    * all BIGINT. */
  def pqTrain(spark: SparkSession, dir: String,
              m: Int = NumSubs, k: Int = NumCells,
              rounds: Int = NumRounds): DataFrame =
    pqTrainFrame(
      Tables.embeddings(spark, dir)
        .select(col("vec_id"), Vectors.asDouble(col("embedding")).as("v")),
      m, k, rounds)

  /** Frame-level trainer: `in` needs (vec_id, v: ARRAY<DOUBLE>). */
  def pqTrainFrame(in: DataFrame, m: Int, k: Int,
                   rounds: Int): DataFrame = {
    val (codebook, lastUpdate) = loop(
      graft.CacheScope.pin(subVectors(in, m)), k, rounds)
    Graph.freeCheckpoint(codebook)
    graft.Present.sorted(
      lastUpdate.select(col("sub"), col("cell"),
                        col("dim").cast(LongType).as("dim"),
                        col("qsum"), col("n")),
      col("sub"), col("cell"), col("dim"))
  }

  /** Argmin code assignment of (vec_id, sub, sv) rows under a (sub,
    * cell, cv) codebook → (vec_id, sub, code). The M·K codewords
    * broadcast; the min-struct collapses map-side. */
  private[ext] def assignCodes(subVecs: DataFrame,
                               codebook: DataFrame): DataFrame =
    subVecs.join(broadcast(codebook), "sub")
      .select(col("vec_id"), col("sub"), col("cell"), score)
      .groupBy(col("vec_id"), col("sub"))
      .agg(min(struct(col("score"), col("cell"))).as("b"))
      .select(col("vec_id"), col("sub"), col("b.cell").as("code"))

  /** Corpus encoding under the trained codebooks: each vector becomes
    * M codes — the compressed representation an IVF-PQ index stores.
    * One broadcast of the M·K codewords, one argmin pass per (vector,
    * subspace), integer output (vec_id, sub, code). */
  def pqAssign(spark: SparkSession, dir: String,
               m: Int = NumSubs, k: Int = NumCells,
               rounds: Int = NumRounds): DataFrame = {
    val subVecs = graft.CacheScope.pin(subVectors(
      Tables.embeddings(spark, dir)
        .select(col("vec_id"), Vectors.asDouble(col("embedding")).as("v")),
      m))
    val (codebook, lastUpdate) = loop(subVecs, k, rounds)
    Graph.freeCheckpoint(lastUpdate)
    graft.Present.sorted(assignCodes(subVecs, codebook),
      col("vec_id"), col("sub"))
  }

  private[ext] val NumQueries = 10
  private[ext] val TopK       = 3

  /** ADC top-k search over the PQ codes — the probe an IVF-PQ index
    * actually runs: each query precomputes an M×K table of squared
    * distances to every codeword (broadcast — a few hundred rows per
    * query regardless of corpus size), and scanning a vector costs M
    * integer lookups + adds instead of D float ops.
    *
    * Determinism: the lookup entries are quantized to integer ppm AT
    * THE TABLE (floor(d²·10⁶) BIGINT), so the per-vector ADC sum is
    * LONG arithmetic — exact and order-independent — and the rank
    * window orders on integers; a float sum here would rank-swap
    * near-tied neighbors on 1-ulp summation-order differences between
    * engines. Approximation quality is measured, not assumed: PqSpec
    * reports recall@$TopK against [[Similarity.knnBrute]]'s exact
    * answer (the X10b practice). */
  def knnPq(spark: SparkSession, dir: String,
            m: Int = NumSubs, k: Int = NumCells, rounds: Int = NumRounds,
            numQueries: Int = NumQueries, topK: Int = TopK): DataFrame =
    knnPqFrame(
      Tables.embeddings(spark, dir)
        .select(col("vec_id"), Vectors.asDouble(col("embedding")).as("v")),
      m, k, rounds, numQueries, topK)

  /** [[knnPq]] over an arbitrary (vec_id, v DOUBLE[]) frame — [[Opq]]
    * runs the identical train+ADC chain on ROTATED vectors, so the
    * only difference between `knn_pq` and `knn_opq` is the basis. */
  private[ext] def knnPqFrame(in: DataFrame, m: Int, k: Int, rounds: Int,
                              numQueries: Int, topK: Int): DataFrame = {
    val subVecs = graft.CacheScope.pin(subVectors(in, m))
    val (codebook, lastUpdate) = loop(subVecs, k, rounds)
    Graph.freeCheckpoint(lastUpdate)
    val codes = assignCodes(subVecs, codebook)
    val qd = queryDistanceTables(subVecs, codebook, numQueries)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("adc_ppm"), col("nn_id"))
    graft.Present.sorted(
      codes.join(broadcast(qd),
          codes("sub") === qd("sub") && codes("code") === qd("cell"))
        .filter(col("vec_id") =!= col("query_id"))
        .groupBy(col("query_id"), col("vec_id").as("nn_id"))
        .agg(sum(col("d2_ppm")).as("adc_ppm"))
        .withColumn("rank", row_number().over(w).cast(LongType))
        .filter(col("rank") <= topK)
        .select(col("query_id"), col("rank"), col("nn_id"), col("adc_ppm")),
      col("query_id"), col("rank"))
  }

  /** Per-(query, subspace, codeword) squared distance LOOKUP TABLES,
    * ppm-quantized at the table so the downstream ADC sum is exact
    * LONG arithmetic — M·K rows per query regardless of corpus size
    * (always broadcastable). */
  private[ext] def queryDistanceTables(subVecs: DataFrame,
                                       codebook: DataFrame,
                                       numQueries: Int): DataFrame =
    subVecs.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("sub"), col("sv"))
      .join(broadcast(codebook), "sub")
      .select(col("query_id"), col("sub"), col("cell"),
        floor((graft.functions.ArrayDot(col("sv"), col("sv")) +
               graft.functions.ArrayDot(col("cv"), col("cv")) -
               lit(2.0) * graft.functions.ArrayDot(col("sv"), col("cv")))
              * lit(1000000L)).cast(LongType).as("d2_ppm"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pq_train"  -> ((s, d) => pqTrain(s, d)),
    "pq_assign" -> ((s, d) => pqAssign(s, d)),
    "knn_pq"    -> ((s, d) => knnPq(s, d)))

  // ---- oracles: the KMeans unrolled chain with `sub` in every key ----
  // The name prefix lets [[IvfPq]] compose this chain with [[KMeans]]'s
  // in ONE oracle without CTE-name collisions.

  /** [[subCtes]] over an arbitrary (vec_id, v DOUBLE[]) source — the
    * residual-encoded [[IvfPq]] variant trains the same chain on
    * residual vectors instead of raw embeddings. */
  private[ext] def subCtesFrom(src: String, p: String): String =
    s"""${p}v AS MATERIALIZED (
       |  SELECT vec_id, sub,
       |    v[sub * (len(v) / $NumSubs) + 1 :
       |      (sub + 1) * (len(v) / $NumSubs)] AS sv
       |  FROM (SELECT vec_id, v, unnest(range(0, $NumSubs)) AS sub
       |        FROM $src)),
       |${p}c0 AS (SELECT sub, CAST(vec_id AS BIGINT) AS cell, sv AS cv
       |       FROM ${p}v WHERE vec_id < $NumCells)""".stripMargin

  private[ext] def subCtes(p: String = ""): String = subCtesFrom(
    "(SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings)",
    p)

  private[ext] def roundCtes(r: Int, p: String = ""): String = (1 to r).map { i =>
    s"""${p}a$i AS (
       |  SELECT vec_id, sub, sv, cell FROM (
       |    SELECT x.vec_id, x.sub, x.sv, c.cell,
       |      row_number() OVER (PARTITION BY x.vec_id, x.sub ORDER BY
       |        list_dot_product(c.cv, c.cv)
       |          - 2 * list_dot_product(x.sv, c.cv), c.cell) AS rn
       |    FROM ${p}v x JOIN ${p}c${i - 1} c ON c.sub = x.sub)
       |  WHERE rn = 1),
       |${p}u$i AS MATERIALIZED (
       |  SELECT sub, cell, i - 1 AS dim,
       |    CAST(sum(floor(sv[i] * 1000000)) AS BIGINT) AS qsum,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM (SELECT sub, cell, sv, unnest(range(1, len(sv) + 1)) AS i
       |        FROM ${p}a$i)
       |  GROUP BY 1, 2, 3),
       |${p}c$i AS MATERIALIZED (
       |  SELECT p.sub, p.cell, coalesce(u.cv, p.cv) AS cv
       |  FROM ${p}c${i - 1} p LEFT JOIN (
       |    SELECT sub, cell, array_agg(qsum / 1e6 / n ORDER BY dim) AS cv
       |    FROM ${p}u$i GROUP BY 1, 2) u
       |    ON u.sub = p.sub AND u.cell = p.cell)""".stripMargin
  }.mkString(",\n")

  /** Code-assignment oracle fragment over the final `${p}c$r`. */
  private[ext] def codesSql(r: Int, p: String = ""): String =
    s"""SELECT vec_id, sub, cell AS code FROM (
       |  SELECT x.vec_id, x.sub, c.cell,
       |    row_number() OVER (PARTITION BY x.vec_id, x.sub ORDER BY
       |      list_dot_product(c.cv, c.cv)
       |        - 2 * list_dot_product(x.sv, c.cv), c.cell) AS rn
       |  FROM ${p}v x JOIN ${p}c$r c ON c.sub = x.sub)
       |WHERE rn = 1""".stripMargin

  /** Query-distance-table oracle fragment over the final `${p}c$r`. */
  private[ext] def qdSql(r: Int, numQueries: Int, p: String = ""): String =
    s"""SELECT q.vec_id AS query_id, q.sub, c.cell,
       |    CAST(floor((list_dot_product(q.sv, q.sv)
       |                + list_dot_product(c.cv, c.cv)
       |                - 2 * list_dot_product(q.sv, c.cv)) * 1000000)
       |         AS BIGINT) AS d2_ppm
       |  FROM ${p}v q JOIN ${p}c$r c ON c.sub = q.sub
       |  WHERE q.vec_id < $numQueries""".stripMargin

  val oracles: Map[String, String] = Map(
    "pq_train" ->
      s"""WITH ${subCtes()},
         |${roundCtes(NumRounds)}
         |SELECT sub, cell, dim, qsum, n FROM u$NumRounds
         |ORDER BY sub, cell, dim""".stripMargin,
    "pq_assign" ->
      s"""WITH ${subCtes()},
         |${roundCtes(NumRounds)}
         |${codesSql(NumRounds)} ORDER BY vec_id, sub""".stripMargin,
    "knn_pq" ->
      s"""WITH ${subCtes()},
         |${roundCtes(NumRounds)},
         |codes AS (${codesSql(NumRounds)}),
         |qd AS (${qdSql(NumRounds, NumQueries)}),
         |${adcRankSql(TopK)}""".stripMargin)

  /** ADC rank tail over preceding `codes`/`qd` CTEs — shared verbatim
    * by `knn_pq` and [[Opq]]'s `knn_opq` so the ranking semantics
    * can't drift between the raw and the rotated basis. */
  private[ext] def adcRankSql(topK: Int): String =
    s"""s AS (
       |  SELECT qd.query_id, codes.vec_id AS nn_id,
       |    CAST(sum(qd.d2_ppm) AS BIGINT) AS adc_ppm
       |  FROM codes JOIN qd
       |    ON qd.sub = codes.sub AND qd.cell = codes.code
       |  WHERE codes.vec_id <> qd.query_id
       |  GROUP BY 1, 2)
       |SELECT query_id, CAST(rank AS BIGINT) AS rank, nn_id, adc_ppm
       |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
       |              ORDER BY adc_ppm, nn_id) AS rank FROM s)
       |WHERE rank <= $topK ORDER BY query_id, rank""".stripMargin
}
