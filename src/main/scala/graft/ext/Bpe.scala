package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/** BPE tokenizer TRAINING (Sennrich et al. 2016) — the canonical
  * big-data tokenizer workload: learn a merge list from the corpus, then
  * encode anything with the tiny stored artifact (the native
  * [[graft.functions.BpeEncode]] expression). No reference-repo
  * counterpart; this is the training-data-pipeline surface.
  *
  * The classic trick that makes this tractable: BPE trains on the WORD
  * DICTIONARY (distinct word, frequency), never the raw corpus — the
  * corpus is scanned ONCE to build the dictionary (one O(distinct
  * words) exchange, partial agg collapses hot words map-side), and all
  * [[NumMerges]] rounds then run at vocabulary economics, inside one
  * task ([[LocalTrain.bpeLocal]]). Per round:
  *
  *   - pair counts: adjacent symbol pairs weighted by word frequency;
  *   - winner: max count, ties broken by byte order identically in both
  *     engines;
  *   - apply: every word's symbols merge the winner's non-overlapping
  *     (a,b) occurrences left-to-right. The pass cannot cascade within a
  *     round (a merged symbol is strictly longer than the pair's left
  *     side), which is exactly [[graft.functions.BpeEncode]]'s pass and
  *     the oracle's `replace()` semantics — three spellings of one
  *     definition.
  *
  * Loop hygiene: there is no loop in the plan. The dictionary feeds one
  * task that runs every round in memory, so a query starts no job while
  * it is built and none per round; the task fails the query when the
  * dictionary holds more than [[LocalTrain.MaxDictRows]] words.
  *
  * The DuckDB oracle is the [[Graph]]-style UNROLLED form: K generated
  * rounds of (pairs → top-1 → `replace`) CTEs over a delimiter-framed
  * symbol-string dictionary — `⟨a⟩⟨b⟩⟨c⟩` with chr(30)/chr(31)
  * (RS/US control bytes) as the frames — where `replace('⟨a⟩⟨b⟩',
  * '⟨ab⟩')` is boundary-exact BECAUSE the frames lie outside the
  * corpus alphabet: symbols are raw corpus word characters, so a
  * printable delimiter (brackets, say) could be ambiguous on real
  * text; control bytes cannot, and the d0 CTE `error()`s loudly on
  * any word that does carry one rather than silently diverging.
  */
object Bpe {

  private[ext] val NumMerges = 16

  /** (word, n) — the word-frequency dictionary both tokenizers train
    * on ([[Unigram.trainFrame]] too). */
  private[ext] def wordDict(in: DataFrame): DataFrame =
    in
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("n"))

  /** Train `numMerges` merges; returns (rank, a, b) — the stored
    * artifact [[graft.functions.BpeEncode]] consumes. */
  def trainBpe(spark: SparkSession, dir: String,
               numMerges: Int = NumMerges): DataFrame =
    trainBpeFrame(Tables.documents(spark, dir), numMerges)

  /** Frame-level trainer: `in` needs a `text` column. */
  def trainBpeFrame(in: DataFrame,
                    numMerges: Int = NumMerges): DataFrame =
    LocalTrain.bpeLocal(wordDict(in), numMerges)

  /** Gate query: the learned merge table itself. */
  def bpeMerges(spark: SparkSession, dir: String): DataFrame =
    graft.Present.sorted(trainBpe(spark, dir), col("rank"))

  /** Gate query: every document encoded by the native expression
    * against the in-plan-trained merges — token count plus an order-
    * sensitive digest of the token stream, so the gate pins the exact
    * segmentation (the oracle reproduces it from the final-round
    * dictionary: for corpus words, encode-by-rank ≡ the training
    * segmentation). */
  /** A trained (rank, a, b) table folded into the 1-row rank-ordered
    * "a b" ARRAY the [[graft.functions.BpeEncode]] expression takes —
    * the broadcastable in-plan form of the merge-list artifact. */
  private def mergesArray(trained: DataFrame): DataFrame =
    trained.agg(transform(
      array_sort(collect_list(struct(col("rank"),
        concat_ws(" ", col("a"), col("b")).as("m")))),
      x => x.getField("m")).as("merges"))

  def bpeTokens(spark: SparkSession, dir: String): DataFrame = {
    val merges = mergesArray(trainBpe(spark, dir))
    val toks = graft.functions.BpeEncode(col("text"), col("merges"))
    graft.Present.sorted(
      Tables.documents(spark, dir)
        .crossJoin(broadcast(merges))
        .select(col("doc_id"),
          size(toks).cast(LongType).as("n_bpe_tokens"),
          md5(concat_ws(" ", toks)).as("tokens_md5")),
      col("doc_id"))
  }

  /** FROZEN-artifact apply — the deployment contract [[bpeTokens]]
    * can't show (it retrains on the same corpus it encodes, so every
    * word it meets is in the training dictionary): merges train on
    * the HISTORY split ([[Dedup.IncrMod]] — the increment fixture
    * every frozen-artifact op shares) and the UNSEEN batch encodes
    * under them. Out-of-vocabulary words are the point: a word absent
    * from the training dictionary still segments under whatever
    * learned merges apply inside it, code-point fallback for the
    * rest — exactly what [[graft.functions.BpeEncode]]'s rank-order
    * pass does for ANY input, and what a per-increment tokenize job
    * does against the persisted merge list. Oracle: the history
    * dictionary chain yields m1..mK; a second chain applies those
    * winners to the BATCH word dictionary in rank order (one
    * boundary-exact `replace` per rank — the same non-cascading
    * argument as training). */
  def bpeApply(spark: SparkSession, dir: String): DataFrame = {
    val isNew = col("doc_id") % Dedup.IncrMod === 0
    val docs = Tables.documents(spark, dir)
    val merges = mergesArray(trainBpeFrame(docs.filter(!isNew)))
    val toks = graft.functions.BpeEncode(col("text"), col("merges"))
    graft.Present.sorted(
      docs.filter(isNew)
        .crossJoin(broadcast(merges))
        .select(col("doc_id"),
          size(toks).cast(LongType).as("n_bpe_tokens"),
          md5(concat_ws(" ", toks)).as("tokens_md5")),
      col("doc_id"))
  }

  /** Per-LANGUAGE tokenizer fertility — the tokenizer-fairness report
    * (Petrov et al. 2023, "Language Model Tokenizers Introduce
    * Unfairness Between Languages"; Rust et al. 2021's fertility
    * metric): tokens-per-word and chars-per-token by language under
    * the corpus-trained merge list. A language whose fertility runs
    * high pays more sequence length for the same content — it gets
    * fewer effective context tokens AND costs more to train on; this
    * report is how a multilingual run detects that before training.
    * Composes [[bpeTokens]]'s encode with a one-scan per-lang
    * aggregate: integer sums (exact), two final divisions (single IEEE
    * ops, cross-engine stable). O(languages) output rows. */
  def bpeFertility(spark: SparkSession, dir: String): DataFrame = {
    val merges = mergesArray(trainBpe(spark, dir))
    fertilityReport(Tables.documents(spark, dir), merges)
  }

  /** Per-lang fertility aggregate over `docs` encoded under `merges`
    * (a 1-row broadcastable merge array) — shared by the corpus-wide
    * and incremental fertility gates so the metric has ONE spelling. */
  private def fertilityReport(docs: DataFrame,
                              merges: DataFrame): DataFrame =
    fertilityOf(docs, merges,
      graft.functions.BpeEncode(col("text"), col("merges")))

  /** Tokenizer-agnostic fertility kernel: `art` is any 1-row
    * broadcastable artifact frame and `toks` the token-array expression
    * over (`text`, art columns) — [[Unigram]] reuses this with its
    * piece table, so the fairness metric has ONE spelling across BOTH
    * canonical tokenizers and the reports stay column-comparable. */
  private[ext] def fertilityOf(docs: DataFrame, art: DataFrame,
                               toks: Column): DataFrame = {
    graft.Present.sorted(
      docs
        .crossJoin(broadcast(art))
        .select(col("lang"),
          size(toks).cast(LongType).as("ntok"),
          size(filter(split(col("text"), " "), w => w =!= ""))
            .cast(LongType).as("nw"),
          length(translate(col("text"), " ", "")).cast(LongType).as("nch"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
             sum(col("nw")).as("n_words"),
             sum(col("ntok")).as("n_tokens"),
             sum(col("nch")).as("n_chars"))
        .withColumn("fertility",
          col("n_tokens").cast(DoubleType) / col("n_words"))
        .withColumn("chars_per_token",
          col("n_chars").cast(DoubleType) / col("n_tokens")),
      col("lang"))
  }

  /** Per-increment fertility under the FROZEN tokenizer — the per-batch
    * drift monitor ([[Funnel]]'s X101 move applied to [[bpeApply]]):
    * merges train on the history split only, and each arriving batch's
    * per-language fertility is measured under them. A language whose
    * incremental fertility climbs relative to the [[bpeFertility]]
    * baseline is drifting out of the frozen vocabulary (new domain,
    * new script, spam) — the operational signal that schedules a
    * tokenizer retrain, read per batch the way [[Funnel
    * .incrementalFunnelByLang]] is. Same one-scan aggregate, same
    * spelling, only the training split and the scored split change. */
  def bpeFertilityIncremental(spark: SparkSession, dir: String): DataFrame = {
    val isNew = col("doc_id") % Dedup.IncrMod === 0
    val docs = Tables.documents(spark, dir)
    fertilityReport(docs.filter(isNew),
      mergesArray(trainBpeFrame(docs.filter(!isNew))))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "bpe_merges" -> ((s, d) => bpeMerges(s, d)),
    "bpe_tokens" -> ((s, d) => bpeTokens(s, d)),
    "bpe_apply"  -> ((s, d) => bpeApply(s, d)),
    "bpe_fertility" -> ((s, d) => bpeFertility(s, d)),
    "bpe_fertility_incremental" -> ((s, d) => bpeFertilityIncremental(s, d)))

  // ---- oracles (generated K-round unrolled CTE chains) ----

  /** Symbol frames for the oracle's delimited strings: RS/US control
    * bytes, chosen OUTSIDE any plausible corpus alphabet so the
    * round's `replace` can only ever match at symbol boundaries. */
  private val FrO = "chr(30)"
  private val FrC = "chr(31)"

  /** The delimiter-framed word dictionary seed (d0 shape) over
    * documents matching `docPred`, `error()`ing on any word carrying
    * a frame byte — the no-collision assumption is asserted, not
    * silently relied on. */
  private def seedDict(name: String, docPred: String): String =
    s"""$name AS MATERIALIZED (
       |  SELECT word, CAST(count(*) AS BIGINT) AS n,
       |    $FrO || array_to_string(
       |      list_transform(range(1, len(word) + 1), i -> word[i:i]),
       |      $FrC || $FrO) || $FrC AS s
       |  FROM (SELECT CASE WHEN word LIKE '%' || $FrO || '%'
       |                      OR word LIKE '%' || $FrC || '%'
       |               THEN error('bpe oracle: corpus word contains a frame byte (chr 30/31)')
       |               ELSE word END AS word
       |        FROM (SELECT unnest(string_split(text, ' ')) AS word
       |              FROM documents WHERE $docPred))
       |  WHERE word <> '' GROUP BY word)""".stripMargin

  /** b0..bK: the BATCH word dictionary run through the HISTORY rounds'
    * winners m1..mK in rank order — one boundary-exact replace per
    * rank, the training chain's own non-cascading pass. Shared by the
    * bpe_apply and bpe_fertility_incremental oracles. */
  private def applyRoundsSql: String = (1 to NumMerges).map { r =>
    s"""b$r AS (
       |  SELECT b.word,
       |    CASE WHEN m.a IS NULL THEN b.s
       |         ELSE replace(b.s, $FrO || m.a || $FrC || $FrO || m.b || $FrC,
       |                           $FrO || m.a || m.b || $FrC) END AS s
       |  FROM b${r - 1} b LEFT JOIN m$r m ON TRUE)""".stripMargin
  }.mkString(",\n")

  /** d0..dK dictionary CTEs over delimiter-framed symbol strings for
    * documents matching `docPred` (default: the whole corpus). */
  private def dictCtes(k: Int, docPred: String = "TRUE"): String = {
    val d0 = seedDict("d0", docPred)
    val rounds = (1 to k).map { r =>
      s"""p$r AS (
         |  SELECT l[i] AS a, l[i + 1] AS b, CAST(sum(n) AS BIGINT) AS cnt
         |  FROM (SELECT n, l, unnest(range(1, len(l))) AS i
         |        FROM (SELECT n, string_split(substr(s, 2, len(s) - 2),
         |                                     $FrC || $FrO) AS l
         |              FROM d${r - 1}))
         |  GROUP BY 1, 2),
         |m$r AS (SELECT a, b FROM p$r ORDER BY cnt DESC, a, b LIMIT 1),
         |d$r AS MATERIALIZED (
         |  SELECT d.word, d.n,
         |    CASE WHEN m.a IS NULL THEN d.s
         |         ELSE replace(d.s, $FrO || m.a || $FrC || $FrO || m.b || $FrC,
         |                           $FrO || m.a || m.b || $FrC) END AS s
         |  FROM d${r - 1} d LEFT JOIN m$r m ON TRUE)""".stripMargin
    }
    (d0 +: rounds).mkString(",\n")
  }

  val oracles: Map[String, String] = Map(
    "bpe_merges" -> {
      val union = (1 to NumMerges)
        .map(r => s"SELECT CAST($r AS BIGINT) AS rank, a, b FROM m$r")
        .mkString("\nUNION ALL ")
      s"""WITH ${dictCtes(NumMerges)}
         |SELECT * FROM ($union) ORDER BY rank""".stripMargin
    },
    "bpe_tokens" ->
      s"""WITH ${dictCtes(NumMerges)},
         |seg AS (
         |  SELECT word, string_split(substr(s, 2, len(s) - 2),
         |                            $FrC || $FrO) AS l
         |  FROM d$NumMerges),
         |dw AS (
         |  SELECT doc_id, w.word, w.i
         |  FROM (SELECT doc_id,
         |          unnest(string_split(text, ' ')) AS word,
         |          generate_subscripts(string_split(text, ' '), 1) AS i
         |        FROM documents) w
         |  WHERE w.word <> ''),
         |j AS (SELECT dw.doc_id, dw.i, seg.l
         |      FROM dw JOIN seg ON seg.word = dw.word)
         |SELECT d.doc_id,
         |  CAST(coalesce(t.nt, 0) AS BIGINT) AS n_bpe_tokens,
         |  md5(coalesce(t.ts, '')) AS tokens_md5
         |FROM documents d LEFT JOIN (
         |  SELECT doc_id, sum(len(l)) AS nt,
         |    string_agg(array_to_string(l, ' '), ' ' ORDER BY i) AS ts
         |  FROM j GROUP BY doc_id) t ON t.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    "bpe_fertility_incremental" -> {
      val mod = Dedup.IncrMod
      s"""WITH ${dictCtes(NumMerges, s"doc_id % $mod <> 0")},
         |${seedDict("b0", s"doc_id % $mod = 0")},
         |$applyRoundsSql,
         |seg AS (
         |  SELECT word, string_split(substr(s, 2, len(s) - 2),
         |                            $FrC || $FrO) AS l
         |  FROM b$NumMerges),
         |dw AS (
         |  SELECT doc_id, w.word
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
         |        FROM documents WHERE doc_id % $mod = 0) w
         |  WHERE w.word <> ''),
         |per AS (
         |  SELECT d.doc_id, d.lang,
         |    CAST(coalesce(t.nt, 0) AS BIGINT) AS ntok,
         |    CAST(len(list_filter(string_split(d.text, ' '),
         |                         w -> w <> '')) AS BIGINT) AS nw,
         |    CAST(length(replace(d.text, ' ', '')) AS BIGINT) AS nch
         |  FROM documents d LEFT JOIN (
         |    SELECT dw.doc_id, sum(len(seg.l)) AS nt
         |    FROM dw JOIN seg ON seg.word = dw.word
         |    GROUP BY dw.doc_id) t ON t.doc_id = d.doc_id
         |  WHERE d.doc_id % $mod = 0)
         |SELECT lang,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(nw) AS BIGINT) AS n_words,
         |  CAST(sum(ntok) AS BIGINT) AS n_tokens,
         |  CAST(sum(nch) AS BIGINT) AS n_chars,
         |  CAST(sum(ntok) AS DOUBLE) / CAST(sum(nw) AS BIGINT) AS fertility,
         |  CAST(sum(nch) AS DOUBLE) / CAST(sum(ntok) AS BIGINT)
         |    AS chars_per_token
         |FROM per GROUP BY lang ORDER BY lang""".stripMargin
    },
    "bpe_fertility" ->
      s"""WITH ${dictCtes(NumMerges)},
         |seg AS (
         |  SELECT word, string_split(substr(s, 2, len(s) - 2),
         |                            $FrC || $FrO) AS l
         |  FROM d$NumMerges),
         |dw AS (
         |  SELECT doc_id, w.word
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
         |        FROM documents) w
         |  WHERE w.word <> ''),
         |per AS (
         |  SELECT d.doc_id, d.lang,
         |    CAST(coalesce(t.nt, 0) AS BIGINT) AS ntok,
         |    CAST(len(list_filter(string_split(d.text, ' '),
         |                         w -> w <> '')) AS BIGINT) AS nw,
         |    CAST(length(replace(d.text, ' ', '')) AS BIGINT) AS nch
         |  FROM documents d LEFT JOIN (
         |    SELECT dw.doc_id, sum(len(seg.l)) AS nt
         |    FROM dw JOIN seg ON seg.word = dw.word
         |    GROUP BY dw.doc_id) t ON t.doc_id = d.doc_id)
         |SELECT lang,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(nw) AS BIGINT) AS n_words,
         |  CAST(sum(ntok) AS BIGINT) AS n_tokens,
         |  CAST(sum(nch) AS BIGINT) AS n_chars,
         |  CAST(sum(ntok) AS DOUBLE) / CAST(sum(nw) AS BIGINT) AS fertility,
         |  CAST(sum(nch) AS DOUBLE) / CAST(sum(ntok) AS BIGINT)
         |    AS chars_per_token
         |FROM per GROUP BY lang ORDER BY lang""".stripMargin,
    "bpe_apply" -> {
      val applyRounds = applyRoundsSql
      val incrPred = s"doc_id % ${Dedup.IncrMod}"
      s"""WITH ${dictCtes(NumMerges, s"$incrPred <> 0")},
         |${seedDict("b0", s"$incrPred = 0")},
         |$applyRounds,
         |seg AS (
         |  SELECT word, string_split(substr(s, 2, len(s) - 2),
         |                            $FrC || $FrO) AS l
         |  FROM b$NumMerges),
         |dw AS (
         |  SELECT doc_id, w.word, w.i
         |  FROM (SELECT doc_id,
         |          unnest(string_split(text, ' ')) AS word,
         |          generate_subscripts(string_split(text, ' '), 1) AS i
         |        FROM documents WHERE $incrPred = 0) w
         |  WHERE w.word <> ''),
         |j AS (SELECT dw.doc_id, dw.i, seg.l
         |      FROM dw JOIN seg ON seg.word = dw.word)
         |SELECT d.doc_id,
         |  CAST(coalesce(t.nt, 0) AS BIGINT) AS n_bpe_tokens,
         |  md5(coalesce(t.ts, '')) AS tokens_md5
         |FROM documents d LEFT JOIN (
         |  SELECT doc_id, sum(len(l)) AS nt,
         |    string_agg(array_to_string(l, ' '), ' ' ORDER BY i) AS ts
         |  FROM j GROUP BY doc_id) t ON t.doc_id = d.doc_id
         |WHERE d.doc_id % ${Dedup.IncrMod} = 0
         |ORDER BY d.doc_id""".stripMargin
    })
}
