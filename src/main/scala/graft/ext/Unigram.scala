package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.functions.{ILog2Fp, UnigramEncode}

/** Distributed Unigram-LM tokenizer TRAINING (Kudo 2018 — the
  * SentencePiece unigram model): learn a piece table with costs from
  * the corpus, then encode anything by Viterbi against the tiny stored
  * artifact (the native [[graft.functions.UnigramEncode]] expression).
  * The OTHER canonical subword tokenizer beside [[Bpe]] — together they
  * complete the family the fertility/drift monitors report on. No
  * reference-repo counterpart; training-data-pipeline surface.
  *
  * Same economics as [[Bpe]]: the corpus is scanned ONCE into the word
  * dictionary (distinct word, frequency), and everything after — seed,
  * EM rounds, pruning — runs at VOCABULARY scale. Per round:
  *
  *   - costs: piece cost = ilog2fp(Σ(n+1)) − ilog2fp(n+1), i.e.
  *     −log2 p(piece) in 2^16 fixed point with add-one smoothing
  *     (smoothing keeps the single-char fallback alphabet costed even
  *     when longer pieces cover all its occurrences). INTEGER costs
  *     ([[graft.functions.ILog2Fp]]) are the bit-parity move: Viterbi
  *     then compares exact BIGINT sums, so Spark's DP and the oracle's
  *     exhaustive enumeration provably pick the same segmentation —
  *     with float log-probs the two engines' libm could disagree in
  *     the last ulp and flip a comparison.
  *   - segment (hard-EM E-step): every dictionary word is
  *     Viterbi-segmented under the current costs — the piece table
  *     rides a 1-row broadcast array pair onto the dictionary, the
  *     [[Bpe.bpeTokens]] artifact pattern. Hard EM (count the single
  *     best segmentation, not posterior expectations) is the
  *     deterministic simplification; Kudo's §3.2 EM uses posteriors,
  *     but the argmax counts converge to the same prune ordering on
  *     anything this side of a tie and keep every count integral.
  *   - recount (M-step): explode the segmentations weighted by word
  *     frequency — one O(vocab) aggregate.
  *   - prune: single characters are ALWAYS kept (the fallback
  *     alphabet, Kudo §3.2's character coverage); multi-char pieces
  *     keep the top-K by (count desc, piece asc) on a shrinking
  *     schedule — SentencePiece's prune-to-target sized for the gate
  *     corpus. Pruning by Viterbi count stands in for Kudo's
  *     likelihood-loss ranking (the count IS the piece's total
  *     log-likelihood contribution divided by its cost, and on this
  *     corpus the orderings agree; the simplification is documented,
  *     not hidden).
  *
  * Loop hygiene is [[Bpe.trainBpeFrame]]'s: the dictionary is built
  * once and localCheckpoint'd; each round's vocabulary is
  * localCheckpoint'd and the superseded round freed; nothing is ever
  * collected to the driver.
  *
  * The DuckDB oracle replays training EXHAUSTIVELY: all 2^(len−1)
  * segmentations per distinct word (corpus words are short; this is
  * oracle-only economics, the [[Cluster.ClosureCtes]] argument), each
  * scored by the same integer costs — `ORDER BY cost, n_pieces,
  * pieces` — while the engine runs the O(len·maxPiece) suffix DP whose
  * shortest-first-piece tie-break provably lands on the same
  * lexicographic winner (see [[graft.functions.UnigramEncode]]).
  */
object Unigram {

  /** Longest candidate piece (code points) — seed substrings stop here,
    * so no trained piece can exceed it. */
  private[ext] val MaxPieceLen = 8
  /** Multi-char pieces kept at seed time (top by count). */
  private[ext] val SeedMulti = 64
  /** Multi-char vocabulary size after each EM round's prune — the
    * SentencePiece shrink-to-target schedule (~3/4 per round) sized
    * for the gate corpus; a web-scale run would seed millions and keep
    * the same shape. */
  private[ext] val PruneSchedule = Seq(48, 36, 27, 20)

  /** (word, n) — the word-frequency dictionary. */
  private def wordDict(in: DataFrame): DataFrame =
    in.select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("n"))

  /** Seed vocabulary: every single character, plus the top
    * [[SeedMulti]] substrings of length 2..[[MaxPieceLen]] by
    * frequency-weighted occurrence multiplicity — the standard
    * frequent-substring approximation of Kudo's suffix-array seed. */
  private def seedVocab(wd: DataFrame): DataFrame = {
    val subs = wd.select(col("n"),
        explode(flatten(transform(sequence(lit(1), length(col("word"))), i =>
          transform(
            sequence(i, least(length(col("word")), i + lit(MaxPieceLen - 1))),
            j => col("word").substr(i, j - i + lit(1)))))).as("piece"))
      .groupBy(col("piece")).agg(sum(col("n")).as("n"))
    subs.filter(length(col("piece")) === 1)
      .unionByName(
        subs.filter(length(col("piece")) >= 2)
          .orderBy(col("n").desc, col("piece")).limit(SeedMulti))
  }

  /** Attach integer costs: −log2 of the add-one-smoothed unigram
    * probability in 2^16 fixed point. The 1-row total broadcasts. */
  private def withCosts(vocab: DataFrame): DataFrame =
    vocab.crossJoin(broadcast(vocab.agg(sum(col("n") + 1).as("tot"))))
      .select(col("piece"), col("n"),
        (ILog2Fp(col("tot")) - ILog2Fp(col("n") + 1)).as("cost"))

  /** Fold a costed vocabulary into the 1-row (pieces[], costs[])
    * arrays [[graft.functions.UnigramEncode]] takes — piece-sorted so
    * the broadcast artifact is deterministic ([[Bpe]]'s mergesArray).
    * Public because it IS the deployment artifact step: train once,
    * fold, persist/broadcast, encode anywhere. */
  def artifact(vc: DataFrame): DataFrame = {
    def sortedBy(field: String) =
      transform(array_sort(collect_list(struct(col("piece"), col("cost")))),
        x => x.getField(field))
    vc.agg(sortedBy("piece").as("pieces"), sortedBy("cost").as("costs"))
  }

  /** Train on `in` (needs a `text` column); returns the final costed
    * piece table (piece, n, cost). */
  def trainFrame(in: DataFrame): DataFrame = {
    val wd = wordDict(in).localCheckpoint()
    // the [[Bpe.trainBpeFrame]] two-regime split: a gate-scale
    // dictionary runs the WHOLE seed+EM chain inside one task
    // ([[LocalTrain.unigramLocal]] — r21: the 1-task-job spelling still
    // paid ~11 job launches per training); the distributed loop is the
    // web-scale path
    if (Iterate.solveLocally(wd.count(), Iterate.MaxDictRows))
      return LocalTrain.unigramLocal(wd, MaxPieceLen, SeedMulti, PruneSchedule)
    var vocab = seedVocab(wd).localCheckpoint()
    for (k <- PruneSchedule) {
      val art = artifact(withCosts(vocab)).localCheckpoint() // 1 row
      val counts = wd.crossJoin(broadcast(art))
        .select(col("n"),
          explode(UnigramEncode(col("word"), col("pieces"), col("costs")))
            .as("piece"))
        .groupBy(col("piece")).agg(sum(col("n")).as("n2"))
      val recount = vocab.select(col("piece"))
        .join(counts, Seq("piece"), "left")
        .select(col("piece"), coalesce(col("n2"), lit(0L)).as("n"))
      val next = recount.filter(length(col("piece")) === 1)
        .unionByName(
          recount.filter(length(col("piece")) >= 2)
            .orderBy(col("n").desc, col("piece")).limit(k))
        .localCheckpoint()
      Graph.freeCheckpoint(vocab)
      Graph.freeCheckpoint(art)
      vocab = next
    }
    val fin = withCosts(vocab).localCheckpoint()
    Graph.freeCheckpoint(vocab)
    Graph.freeCheckpoint(wd)
    fin
  }

  /** Gate query: the learned piece table itself (piece, n, cost). */
  def unigramPieces(spark: SparkSession, dir: String): DataFrame =
    graft.Present.sorted(trainFrame(Tables.documents(spark, dir)),
      col("piece"))

  /** (doc_id, n_unigram_tokens, tokens_md5) for `docs` encoded under a
    * trained table — the [[Bpe.bpeTokens]] output contract so the two
    * tokenizers' gates stay comparable. */
  private def encoded(docs: DataFrame, trained: DataFrame): DataFrame = {
    val toks = UnigramEncode(col("text"), col("pieces"), col("costs"))
    graft.Present.sorted(
      docs.crossJoin(broadcast(artifact(trained)))
        .select(col("doc_id"),
          size(toks).cast(LongType).as("n_unigram_tokens"),
          md5(concat_ws(" ", toks)).as("tokens_md5")),
      col("doc_id"))
  }

  /** Gate query: every document Viterbi-encoded under the in-plan-
    * trained table. */
  def unigramTokens(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    encoded(docs, trainFrame(docs))
  }

  /** FROZEN-artifact apply — [[Bpe.bpeApply]]'s contract: train on the
    * HISTORY split ([[Dedup.IncrMod]]), encode the UNSEEN batch.
    * Out-of-vocabulary text is the point: unseen words still segment
    * under whatever trained pieces apply inside them, code-point
    * fallback (at [[graft.functions.UnigramEncode.OovCost]]) for
    * characters the alphabet never saw. */
  def unigramApply(spark: SparkSession, dir: String): DataFrame = {
    val isNew = col("doc_id") % Dedup.IncrMod === 0
    val docs = Tables.documents(spark, dir)
    encoded(docs.filter(isNew), trainFrame(docs.filter(!isNew)))
  }

  /** Per-language fertility under the unigram tokenizer —
    * [[Bpe.bpeFertility]]'s fairness report (Petrov et al. 2023) run
    * under the OTHER tokenizer via the shared [[Bpe.fertilityOf]]
    * kernel: same columns, so the two tokenizers' fairness profiles
    * diff row-for-row. */
  def unigramFertility(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    Bpe.fertilityOf(docs, artifact(trainFrame(docs)),
      UnigramEncode(col("text"), col("pieces"), col("costs")))
  }

  /** Per-increment fertility under the FROZEN unigram artifact —
    * [[Bpe.bpeFertilityIncremental]]'s drift monitor completed for the
    * second tokenizer: pieces train on the history split only, the
    * arriving batch's per-language fertility is measured under them. A
    * language whose incremental fertility climbs vs the
    * [[unigramFertility]] corpus baseline is drifting out of the
    * frozen vocabulary — and with BOTH tokenizers' monitors sharing
    * [[Bpe.fertilityOf]]'s columns, the drift signal itself becomes
    * tokenizer-comparable (a climb under unigram but not BPE points at
    * piece inventory, not corpus shift). Same one-scan aggregate, only
    * the training split and the scored split change. */
  def unigramFertilityIncremental(spark: SparkSession,
                                  dir: String): DataFrame = {
    val isNew = col("doc_id") % Dedup.IncrMod === 0
    val docs = Tables.documents(spark, dir)
    Bpe.fertilityOf(docs.filter(isNew),
      artifact(trainFrame(docs.filter(!isNew))),
      UnigramEncode(col("text"), col("pieces"), col("costs")))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "unigram_pieces" -> ((s, d) => unigramPieces(s, d)),
    "unigram_tokens" -> ((s, d) => unigramTokens(s, d)),
    "unigram_apply" -> ((s, d) => unigramApply(s, d)),
    "unigram_fertility" -> ((s, d) => unigramFertility(s, d)),
    "unigram_fertility_incremental" ->
      ((s, d) => unigramFertilityIncremental(s, d)))

  // ---- oracles: exhaustive-enumeration replay of the trainer ----

  /** DuckDB replay of [[graft.functions.ILog2Fp.compute]] over `c`
    * (a SQL expression, evaluated ≥ 1): the 16 squaring steps run as a
    * `list_reduce` over bit-packed (mantissa << 22 | y) state — m stays
    * below 2^31 so m² never overflows, y below 2^22 so the pack is
    * lossless. Lands on the identical BIGINT for every input. */
  private def ilogSql(c: String): String = {
    val e = s"(length(format('{:b}', $c)) - 1)"
    val m0 = s"(CASE WHEN $e > 30 THEN ($c) >> ($e - 30) ELSE ($c) << (30 - $e) END)"
    val m = "(acc >> 22)"
    val m2 = s"(($m * $m) >> 30)"
    s"""(list_reduce(
       |  list_concat([(($m0) << 22) | ($e)::BIGINT],
       |              [0,0,0,0,0,0,0,0,0,0,0,0,0,0,0,0]),
       |  (acc, x) -> CASE WHEN $m2 >= (1::BIGINT << 31)
       |    THEN (($m2 >> 1) << 22) | ((acc & 4194303) * 2 + 1)
       |    ELSE ($m2 << 22) | ((acc & 4194303) * 2) END) & 4194303)""".stripMargin
  }

  /** Word dictionary + exhaustive segmentation enumeration over the
    * documents matching `docPred`, as CTEs prefixed `pfx`: `{pfx}wd`
    * (word, n), `{pfx}segs` (word, mask, ps), `{pfx}su` (word, mask,
    * piece — ps exploded). 2^(len−1) masks per distinct word. */
  private def enumCtes(pfx: String, docPred: String): String =
    s"""${pfx}wd AS MATERIALIZED (
       |  SELECT word, CAST(count(*) AS BIGINT) AS n
       |  FROM (SELECT unnest(string_split(text, ' ')) AS word
       |        FROM documents WHERE $docPred)
       |  WHERE word <> '' GROUP BY word),
       |${pfx}segs AS MATERIALIZED (
       |  SELECT word, mask, ps FROM (
       |    SELECT word, mask,
       |      list_transform(range(1, len(cs)),
       |        j -> word[(cs[j] + 1)::INT : cs[j + 1]::INT]) AS ps
       |    FROM (SELECT word, mask,
       |            list_concat(list_concat([0::BIGINT],
       |              list_filter(range(1, len(word)),
       |                          i -> ((mask >> (i - 1)) & 1) = 1)),
       |              [len(word)::BIGINT]) AS cs
       |          FROM (SELECT word,
       |                  unnest(range(0, 1::BIGINT << (len(word) - 1))) AS mask
       |                FROM ${pfx}wd)))
       |  WHERE len(list_filter(ps, p -> len(p) > $MaxPieceLen)) = 0),
       |${pfx}su AS MATERIALIZED (
       |  SELECT word, mask, unnest(ps) AS piece FROM ${pfx}segs)""".stripMargin

  /** Score `pfx`'s enumerated segmentations under costed vocab `vc`
    * and pick each word's winner into `{out}` (word, ps): the DP rule
    * as ORDER BY — exact cost sum, then piece count, then the
    * lexicographically smallest piece list. OOV single chars cost
    * [[graft.functions.UnigramEncode.OovCost]]; a segmentation with an
    * OOV multi-char piece is inadmissible (the HAVING kills it). */
  private def bestSegCte(out: String, pfx: String, vc: String): String =
    s"""$out AS MATERIALIZED (
       |  SELECT word, ps FROM (
       |    SELECT sc.word, g.ps,
       |      row_number() OVER (PARTITION BY sc.word
       |                         ORDER BY sc.cost, sc.np, g.ps) AS rn
       |    FROM (
       |      SELECT word, mask, count(*) AS np, sum(cc) AS cost
       |      FROM (SELECT su.word, su.mask, su.piece,
       |              CASE WHEN c.piece IS NOT NULL THEN c.cost
       |                   WHEN len(su.piece) = 1
       |                   THEN ${UnigramEncode.OovCost}::BIGINT END AS cc
       |            FROM ${pfx}su su LEFT JOIN $vc c ON c.piece = su.piece)
       |      GROUP BY word, mask HAVING count(*) = count(cc)) sc
       |    JOIN ${pfx}segs g ON g.word = sc.word AND g.mask = sc.mask)
       |  WHERE rn = 1)""".stripMargin

  /** Costed-vocab CTE `{out}` from count table `v`: the add-one-
    * smoothed fixed-point costs, total via a 1-row cross join. */
  private def costCte(out: String, v: String): String =
    s"""$out AS MATERIALIZED (
       |  SELECT v.piece, v.n, ${ilogSql("t.tot")} - ${ilogSql("(v.n + 1)")} AS cost
       |  FROM $v v, (SELECT CAST(sum(n + 1) AS BIGINT) AS tot FROM $v) t)""".stripMargin

  /** The full training chain over documents matching `docPred`: seed
    * v0, then one (cost → best-seg → recount → prune) block per
    * [[PruneSchedule]] round, ending in the costed table `fin`. */
  private def trainCtes(docPred: String): String = {
    val enumT = enumCtes("t", docPred)
    val seed =
      s"""tsub AS MATERIALIZED (
         |  SELECT piece, CAST(sum(n) AS BIGINT) AS n
         |  FROM (SELECT n, word[i::INT : (i + l - 1)::INT] AS piece
         |        FROM (SELECT n, word, i,
         |                unnest(range(1, ${MaxPieceLen + 1})) AS l
         |              FROM (SELECT n, word, unnest(range(1, len(word) + 1)) AS i
         |                    FROM twd))
         |        WHERE i + l - 1 <= len(word))
         |  GROUP BY piece),
         |v0 AS MATERIALIZED (
         |  SELECT piece, n FROM tsub WHERE len(piece) = 1
         |  UNION ALL
         |  SELECT piece, n FROM (SELECT piece, n FROM tsub
         |                        WHERE len(piece) >= 2
         |                        ORDER BY n DESC, piece LIMIT $SeedMulti))""".stripMargin
    val rounds = PruneSchedule.zipWithIndex.map { case (k, idx) =>
      val r = idx + 1
      s"""${costCte(s"c$r", s"v${r - 1}")},
         |${bestSegCte(s"b$r", "t", s"c$r")},
         |n$r AS MATERIALIZED (
         |  SELECT v.piece, CAST(coalesce(u.n2, 0) AS BIGINT) AS n
         |  FROM v${r - 1} v LEFT JOIN (
         |    SELECT e.piece, sum(w.n) AS n2
         |    FROM (SELECT word, unnest(ps) AS piece FROM b$r) e
         |    JOIN twd w ON w.word = e.word
         |    GROUP BY e.piece) u ON u.piece = v.piece),
         |v$r AS MATERIALIZED (
         |  SELECT piece, n FROM n$r WHERE len(piece) = 1
         |  UNION ALL
         |  SELECT piece, n FROM (SELECT piece, n FROM n$r
         |                        WHERE len(piece) >= 2
         |                        ORDER BY n DESC, piece LIMIT $k))""".stripMargin
    }
    val R = PruneSchedule.length
    (Seq(enumT, seed) ++ rounds :+ costCte("fin", s"v$R")).mkString(",\n")
  }

  /** Document-encode tail: winners `bestCte` applied to the documents
    * matching `docPred` — the [[Bpe]] oracles' word-position join,
    * emitting (doc_id, n_unigram_tokens, tokens_md5). `docPred` must
    * reference `doc_id` unqualified; the outer filter qualifies it
    * against the documents alias. */
  private def encodeSql(bestCte: String, docPred: String): String = {
    val outerPred = docPred.replace("doc_id", "d.doc_id")
    s"""dw AS (
       |  SELECT doc_id, w.word, w.i
       |  FROM (SELECT doc_id,
       |          unnest(string_split(text, ' ')) AS word,
       |          generate_subscripts(string_split(text, ' '), 1) AS i
       |        FROM documents WHERE $docPred) w
       |  WHERE w.word <> '')
       |SELECT d.doc_id,
       |  CAST(coalesce(t.nt, 0) AS BIGINT) AS n_unigram_tokens,
       |  md5(coalesce(t.ts, '')) AS tokens_md5
       |FROM documents d LEFT JOIN (
       |  SELECT dw.doc_id, sum(len(b.ps)) AS nt,
       |    string_agg(array_to_string(b.ps, ' '), ' ' ORDER BY dw.i) AS ts
       |  FROM dw JOIN $bestCte b ON b.word = dw.word
       |  GROUP BY dw.doc_id) t ON t.doc_id = d.doc_id
       |WHERE $outerPred
       |ORDER BY d.doc_id""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "unigram_pieces" ->
      s"""WITH ${trainCtes("TRUE")}
         |SELECT piece, n, cost FROM fin ORDER BY piece""".stripMargin,
    "unigram_tokens" ->
      s"""WITH ${trainCtes("TRUE")},
         |${bestSegCte("bf", "t", "fin")},
         |${encodeSql("bf", "TRUE")}""".stripMargin,
    "unigram_apply" -> {
      val hist = s"doc_id % ${Dedup.IncrMod} <> 0"
      val batch = s"doc_id % ${Dedup.IncrMod} = 0"
      s"""WITH ${trainCtes(hist)},
         |${enumCtes("a", batch)},
         |${bestSegCte("bf", "a", "fin")},
         |${encodeSql("bf", batch)}""".stripMargin
    },
    "unigram_fertility" ->
      s"""WITH ${trainCtes("TRUE")},
         |${bestSegCte("bf", "t", "fin")},
         |${fertilitySql("bf", "TRUE")}""".stripMargin,
    "unigram_fertility_incremental" -> {
      val hist = s"doc_id % ${Dedup.IncrMod} <> 0"
      val batch = s"doc_id % ${Dedup.IncrMod} = 0"
      s"""WITH ${trainCtes(hist)},
         |${enumCtes("a", batch)},
         |${bestSegCte("bf", "a", "fin")},
         |${fertilitySql("bf", batch)}""".stripMargin
    })

  /** The fertility aggregation over docs matching `docPred`, scored by
    * best-segmentation CTE `bestCte` — ONE spelling for the corpus
    * form (`TRUE`) and the frozen-increment form, the [[Bpe]] oracles'
    * sharing rule. `docPred` references `doc_id` unqualified. */
  private def fertilitySql(bestCte: String, docPred: String): String = {
    val outerPred = docPred.replace("doc_id", "d.doc_id")
    s"""dw AS (
       |  SELECT doc_id, w.word
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
       |        FROM documents WHERE $docPred) w
       |  WHERE w.word <> ''),
       |per AS (
       |  SELECT d.doc_id, d.lang,
       |    CAST(coalesce(t.nt, 0) AS BIGINT) AS ntok,
       |    CAST(len(list_filter(string_split(d.text, ' '),
       |                         w -> w <> '')) AS BIGINT) AS nw,
       |    CAST(length(replace(d.text, ' ', '')) AS BIGINT) AS nch
       |  FROM documents d LEFT JOIN (
       |    SELECT dw.doc_id, sum(len(b.ps)) AS nt
       |    FROM dw JOIN $bestCte b ON b.word = dw.word
       |    GROUP BY dw.doc_id) t ON t.doc_id = d.doc_id
       |  WHERE $outerPred)
       |SELECT lang,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(nw) AS BIGINT) AS n_words,
       |  CAST(sum(ntok) AS BIGINT) AS n_tokens,
       |  CAST(sum(nch) AS BIGINT) AS n_chars,
       |  CAST(sum(ntok) AS DOUBLE) / CAST(sum(nw) AS BIGINT) AS fertility,
       |  CAST(sum(nch) AS DOUBLE) / CAST(sum(ntok) AS BIGINT)
       |    AS chars_per_token
       |FROM per GROUP BY lang ORDER BY lang""".stripMargin
  }
}
