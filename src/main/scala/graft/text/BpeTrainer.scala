package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** BPE TOKENIZER TRAINING (VERDICT r6 item 1 — the most-used
  * LLM-pipeline operator the engine lacked; Sennrich, Haddow & Birch,
  * "Neural Machine Translation of Rare Words with Subword Units",
  * ACL 2016). The engine previously only COUNTED byte-pair-ish pieces
  * with a fixed regex ([[TextAnalysis]]); this module LEARNS the merge
  * table from the corpus — the iterative highest-pair-frequency merge
  * loop every real pretraining pipeline runs before anything else.
  *
  * Word-level BPE, the original formulation:
  *
  *  1. Tokenize the corpus with the reference tokenizer (the
  *     wc_wordcount convention: `[A-Za-z][A-Za-z']*`, uppercased) and
  *     collapse to the word-frequency table. Everything after this
  *     step is VOCABULARY-bounded, not corpus-bounded — Heaps' law is
  *     what makes BPE training tractable at 100 TB: the pieces table
  *     is (distinct words × avg word length) rows regardless of how
  *     many times each word occurs.
  *  2. Split every distinct word into single-character symbols
  *     weighted by word frequency.
  *  3. For [[Merges]] rounds: count adjacent symbol pairs (freq-
  *     weighted, overlapping occurrences counted — exactly
  *     `get_stats` in the reference implementation), pick the most
  *     frequent pair with the deterministic tie-break
  *     (count DESC, left ASC, right ASC — the reference leaves ties
  *     to dict order, which no two engines would agree on), and merge
  *     every non-overlapping occurrence greedy-left-to-right.
  *
  * GREEDY MERGE WITHOUT SEQUENTIAL SCAN: left-to-right non-
  * overlapping replacement looks inherently sequential, but candidate
  * positions (sym=a ∧ next=b) can only CONFLICT when they are
  * adjacent, and adjacent candidates only arise for a=b runs
  * ("AAAA"). Within a maximal run of consecutive candidate positions
  * (an "island"), greedy keeps the 1st, 3rd, 5th… — so the merge is
  * two window functions: a running candidate count identifies the
  * island (`grp = pos − cum`, the gaps-and-islands trick), and the
  * candidate's rank inside its island decides keep (odd) vs skip
  * (even). The absorbed right-neighbor is `lag(keep)` — no join, no
  * per-word loop, every step whole-stage-codegen relational.
  *
  * FIXPOINT DISCIPLINE: each round's pieces frame is
  * localCheckpoint'ed behind a statsBarrier (the CC-loop lesson —
  * checkpoint-forwarded stats compound per round) and the whole loop
  * runs under [[graft.operators.Fixpoint.withScopedShuffle]] sized to
  * the pieces row count. The per-round best pair is a 1-row GLOBAL
  * aggregate frame (min of a (−count, a, b) struct — always exactly
  * one row, NULL-fielded when no pair remains) cross-joined broadcast
  * into the rewrite: no driver-side collect of data, and merge
  * exhaustion degrades each later round to a provable no-op in both
  * engines. The only driver value read per round is the 1-row
  * exhaustion probe (the sanctioned convergence-probe shape), used
  * solely to break out of dead rounds early.
  *
  * Determinism: counts are exact BIGINTs, the tie-break is total, and
  * the DuckDB oracle replays the identical [[Merges]] unrolled rounds
  * (generated CTE chain — same windows, same islands arithmetic), so
  * both the merge table and the final piece inventory hash-match.
  *
  * `ta_bpe_train` returns the learned merge table;
  * `ta_bpe_encode` applies it: because step 2 operates on DISTINCT
  * words, the final pieces table IS the trained tokenizer's encoding
  * of every vocabulary word, and encoding the corpus is one hash join
  * token→word — the same "train once on the vocabulary, apply by
  * dictionary lookup" shape production BPE tokenizers use.
  */
object BpeTrainer {

  /** Fixed merge-round count — mirrored exactly by the unrolled
    * oracle. The fixture vocabulary admits ~107 merges; 20 exercises
    * multi-character pairs (learned symbols merging with learned
    * symbols) without ballooning the unrolled oracle.
    */
  val Merges = 20

  import WordCount.WordRegex

  /** (doc_id, word): the corpus token stream under the reference
    * tokenizer (extract on raw text, THEN uppercase — the
    * [[RefTokenizer]] order).
    */
  private def tokens(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents").repartition(col("doc_id"))
      .select(col("doc_id"),
        explode(regexp_extract_all(col("text"), lit(WordRegex), lit(0)))
          .as("t"))
      .select(col("doc_id"), upper(col("t")).as("word"))

  /** One build produces TWO shared frames (merge table + final
    * pieces), shared per (session, dir) through
    * [[graft.operators.Lineage.memo]]. Both frames are
    * localCheckpoint'ed by the build (small: ≤ Merges rows /
    * vocabulary-bounded rows), so later queries replay nothing.
    */
  private[graft] def artifacts(s: SparkSession,
      dir: String): (DataFrame, DataFrame) =
    graft.operators.Lineage.memo(s, dir, "ta_bpe_artifacts")(train(s, dir))

  /** The training loop (the shared [[BpeCore.mergeLoop]] over a
    * single-character seed). Returns (merges, finalPieces):
    * merges = (rank, left_sym, right_sym, merged, pair_count);
    * finalPieces = (word, freq, pos, sym) after [[Merges]] rounds.
    */
  private def train(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val words = tokens(s, dir)
      .groupBy("word").agg(count(lit(1)).as("freq"))
    val seed = words
      .select(col("word"), col("freq"),
        explode(sequence(lit(1L), length(col("word")).cast("long")))
          .as("pos"))
      .select(col("word"), col("freq"), col("pos"),
        expr("substring(word, pos, 1)").as("sym"))
    BpeCore.mergeLoop(s, seed, Merges)
  }

  // -----------------------------------------------------------------
  // ta_bpe_train: the learned merge table.
  def bpeTrain(s: SparkSession, dir: String): DataFrame =
    artifacts(s, dir)._1.orderBy("rank")

  // -----------------------------------------------------------------
  // ta_bpe_encode: encode the corpus with the trained tokenizer. The
  // final pieces table is the per-vocabulary-word encoding, so this
  // is one (token → word) hash join + a per-document aggregate —
  // dictionary-lookup application, never re-running the merge loop.
  // Documents with no tokens keep a row (zero counts, NULL ratio).
  def bpeEncode(s: SparkSession, dir: String): DataFrame = {
    val perWord = artifacts(s, dir)._2
      .groupBy("word")
      .agg(count(lit(1)).as("n_p"))
    // Dictionary side broadcast-hinted: vocabulary-bounded by law,
    // and Catalyst's post-Generate estimate of the token stream can
    // otherwise flip the build side onto the STREAM (measured on the
    // byte twin at 32×: a 3.6 GiB stream broadcast).
    val perDoc = tokens(s, dir)
      .join(broadcast(perWord), "word")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(length(col("word"))).cast("long").as("n_chars"),
        sum(col("n_p")).as("n_pieces"))
    Tables(s, dir, "documents").select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_chars"), lit(0L)).as("n_chars"),
        coalesce(col("n_pieces"), lit(0L)).as("n_pieces"))
      .withColumn("pieces_per_token",
        when(col("n_tokens") === 0, lit(null).cast("double"))
          .otherwise(col("n_pieces").cast("double") /
            col("n_tokens").cast("double")))
      .orderBy("doc_id")
  }

  // -----------------------------------------------------------------
  // ta_bpe_score: VOCABULARY-CONSTRAINED quality scoring (VERDICT r6
  // item 8) — the ta_lm_score bigram model re-based on the TRAINED
  // BPE piece stream, i.e. the engine's own tokenizer feeding its own
  // perplexity-style filter, which is how production pipelines
  // actually threshold quality (score under the model vocabulary you
  // will train with, not under raw words). Each document's token
  // stream expands to its piece sequence via the shared final-pieces
  // table (dictionary lookup, piece order = (token idx, piece pos));
  // bigram probabilities get add-one smoothing
  // p = (c(s1,s2)+1)/(c(s1)+V) over corpus piece statistics, and the
  // score is the document's mean bigram probability, folded in piece
  // order so both engines sum identically.
  def bpeScore(s: SparkSession, dir: String): DataFrame = {
    // stream feeds the window chain, the unigram counts and the
    // vocabulary count; bg feeds both the per-position join and the
    // bigram counts. Round 14: the stream is the Lineage-shared
    // [[pieceStream]] (cross-query reuse with ta_bpe_pack), so the
    // corpus tokenize + dictionary join no longer re-runs per
    // invocation; bg stays a per-invocation checkpoint (round 13,
    // identity on values).
    val stream = pieceStream(s, dir)
    val wSeq = Window.partitionBy("doc_id").orderBy("ti", "pos")
    val seq = stream
      .withColumn("pi", row_number().over(wSeq).cast("long"))
      .withColumn("nxt", lead(col("sym"), 1).over(wSeq))
    val uni = stream.groupBy(col("sym").as("s1")).agg(count(lit(1)).as("c1"))
    val vDf = stream.agg(countDistinct(col("sym")).as("v"))
    val bg = seq.filter(col("nxt").isNotNull)
      .select(col("doc_id"), col("pi"), col("sym").as("s1"),
        col("nxt").as("s2"))
      .localCheckpoint()
    val bgc = bg.groupBy("s1", "s2").agg(count(lit(1)).as("c2"))
    bg.join(broadcast(bgc), Seq("s1", "s2"))
      .join(broadcast(uni), "s1")
      .crossJoin(broadcast(vDf))
      .select(col("doc_id"), col("pi"),
        ((col("c2") + 1).cast("double") /
          (col("c1") + col("v")).cast("double")).as("p"))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("pi"), col("p")))).as("ps"))
      .select(col("doc_id"),
        size(col("ps")).cast("long").as("n_bigrams"),
        (aggregate(transform(col("ps"), x => x.getField("p")),
          lit(0.0), (acc, x) => acc + x) /
          size(col("ps")).cast("double")).as("bpe_score"))
      .orderBy("doc_id")
  }

  // -----------------------------------------------------------------
  // ta_bpe_pack: PACKED PRETRAINING EXAMPLES under the trained
  // tokenizer — the last materialization step of the pipeline this
  // engine exists for (corpus → learned vocabulary → id-encoded
  // piece stream → fixed-length training sequences):
  //  1. vocabulary ids over the trained pieces, usage DESC then
  //     piece ASC (the conventional rank-order assignment);
  //  2. every document becomes its position-ordered piece-ID
  //     sequence (dictionary join, order = (token idx, piece pos));
  //  3. documents are laid out contiguously in doc_id order within
  //     [[graft.pipeline.CorpusOps.PackBuckets]] hash buckets (the
  //     ta_pack shard-local-layout discipline — buckets are the unit
  //     a 1000-executor packing job parallelizes over), and each
  //     piece lands in example gpos >> [[ExShift]] at position
  //     gpos mod [[ExLen]] — documents CROSS example boundaries
  //     (the "pack then chunk" convention), only each bucket's tail
  //     example is partial.
  // Each example row carries exact-content evidence instead of an
  // array column: piece count, distinct contributing docs, id sum,
  // and the md5 of the comma-joined ids in position order (the
  // position-ordered-fold discipline, so both engines hash the
  // identical string).
  val ExShift = 8
  val ExLen = 1L << ExShift

  def bpePack(s: SparkSession, dir: String): DataFrame =
    // Vocabulary ids, per-doc piece index, EOS separator, contiguous
    // per-bucket layout, 2^ExShift examples — the shared machinery
    // ([[BpeCore.packExamples]], factored round 9 for the byte-level
    // twin); rankedIds keeps vid assignment distributed (VERDICT r7).
    BpeCore.packExamples(pieceStream(s, dir), sharedStream = true)

  /** [[packStream]], Lineage-materialized (round 14): the position-
    * ordered trained piece stream is the shared front of TWO declared
    * queries — ta_bpe_score and ta_bpe_pack — and each invocation
    * previously re-ran the corpus tokenize + explode + dictionary
    * join. Same cross-query-reuse class as the NB tier's Lineage
    * frames: in-JVM persist, paid in the bench's untimed cold sweep
    * and attributed.
    */
  private def pieceStream(s: SparkSession, dir: String): DataFrame =
    graft.operators.Lineage.materialized(s, dir, "ta_bpe_stream") {
      packStream(s, dir)
    }

  /** The raw position-ordered pack stream (doc_id, ti, pos, sym) —
    * factored (round 13) so the plan-audit spec can inspect the
    * dictionary-broadcast/window discipline that packExamples'
    * checkpoints now hide from the pack row's executedPlan.
    */
  private[text] def packStream(s: SparkSession, dir: String): DataFrame = {
    val pieces = artifacts(s, dir)._2
    val tokp = Tables(s, dir, "documents").repartition(col("doc_id"))
      .select(col("doc_id"),
        posexplode(regexp_extract_all(col("text"), lit(WordRegex), lit(0)))
          .as(Seq("ti0", "t")))
      .select(col("doc_id"), (col("ti0") + 1).cast("long").as("ti"),
        upper(col("t")).as("word"))
    tokp
      .join(broadcast(pieces.select("word", "pos", "sym")), "word")
      .select(col("doc_id"), col("ti"), col("pos"), col("sym"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ta_bpe_train" -> bpeTrain,
    "ta_bpe_encode" -> bpeEncode,
    "ta_bpe_score" -> bpeScore,
    "ta_bpe_pack" -> bpePack,
  )

  // ---------------------------------------------------------------
  // Oracles: the identical algorithm, unrolled — one generated CTE
  // block per merge round, same windows, same islands arithmetic,
  // same tie-break, scalar-subquery best pair (NULL when exhausted →
  // the round provably rewrites nothing and contributes no merge
  // row, matching the Spark loop's early break).
  private val TokCte =
    s"""tok AS MATERIALIZED (SELECT doc_id, upper(w) AS word FROM (
         SELECT doc_id,
           unnest(regexp_extract_all(text, '[A-Za-z][A-Za-z'']*')) AS w
         FROM documents))"""

  /** The full unrolled training chain: tok → word freqs → char
    * pieces → [[Merges]] rounds ([[BpeCore.roundCtes]]). Shared by
    * both oracles.
    */
  private[text] lazy val TrainCtes: String =
    s"""$TokCte,
       wf AS MATERIALIZED (SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
         FROM tok GROUP BY word),
       pc0 AS MATERIALIZED (SELECT word, freq, i AS pos,
           substr(word, CAST(i AS INTEGER), 1) AS sym
         FROM (SELECT word, freq,
             unnest(range(1, len(word) + 1)) AS i
           FROM wf)),
       ${(1 to Merges).map(BpeCore.roundCtes).mkString(",\n")}"""

  val oracles: Map[String, String] = Map(
    "ta_bpe_train" ->
      s"""WITH $TrainCtes,
         ${BpeCore.mergeTableSql(Merges)}""",
    "ta_bpe_encode" ->
      s"""WITH $TrainCtes,
         pw AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS n_p
           FROM pc$Merges GROUP BY word),
         pd AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(SUM(len(word)) AS BIGINT) AS n_chars,
             CAST(SUM(n_p) AS BIGINT) AS n_pieces
           FROM tok JOIN pw USING (word) GROUP BY doc_id)
         SELECT d.doc_id,
           coalesce(pd.n_tokens, 0) AS n_tokens,
           coalesce(pd.n_chars, 0) AS n_chars,
           coalesce(pd.n_pieces, 0) AS n_pieces,
           CASE WHEN coalesce(pd.n_tokens, 0) = 0 THEN NULL
             ELSE CAST(pd.n_pieces AS DOUBLE) / CAST(pd.n_tokens AS DOUBLE)
           END AS pieces_per_token
         FROM documents d LEFT JOIN pd USING (doc_id)
         ORDER BY doc_id""",
    "ta_bpe_pack" ->
      s"""WITH $TrainCtes,
         tokp AS MATERIALIZED (SELECT doc_id, ti, upper(w) AS word FROM (
             SELECT doc_id, unnest(range(1, len(ws) + 1)) AS ti,
               unnest(ws) AS w
             FROM (SELECT doc_id,
                 regexp_extract_all(text, '[A-Za-z][A-Za-z'']*') AS ws
               FROM documents))),
         pstream AS MATERIALIZED (SELECT t.doc_id, t.ti, p.pos, p.sym
           FROM tokp t JOIN pc$Merges p ON p.word = t.word),
         ${BpeCore.packSqlTail}""",
    "ta_bpe_score" ->
      s"""WITH $TrainCtes,
         tokp AS MATERIALIZED (SELECT doc_id, ti, upper(w) AS word FROM (
             SELECT doc_id, unnest(range(1, len(ws) + 1)) AS ti,
               unnest(ws) AS w
             FROM (SELECT doc_id,
                 regexp_extract_all(text, '[A-Za-z][A-Za-z'']*') AS ws
               FROM documents))),
         pstream AS MATERIALIZED (SELECT t.doc_id, t.ti, p.pos, p.sym
           FROM tokp t JOIN pc$Merges p ON p.word = t.word),
         pseq AS MATERIALIZED (SELECT doc_id, sym,
             CAST(row_number() OVER (PARTITION BY doc_id
               ORDER BY ti, pos) AS BIGINT) AS pi,
             lead(sym) OVER (PARTITION BY doc_id ORDER BY ti, pos)
               AS nxt
           FROM pstream),
         uni AS (SELECT sym AS s1, CAST(COUNT(*) AS BIGINT) AS c1
           FROM pstream GROUP BY sym),
         vv AS (SELECT CAST(COUNT(DISTINCT sym) AS BIGINT) AS v
           FROM pstream),
         bg AS (SELECT doc_id, pi, sym AS s1, nxt AS s2 FROM pseq
           WHERE nxt IS NOT NULL),
         bgc AS (SELECT s1, s2, CAST(COUNT(*) AS BIGINT) AS c2
           FROM bg GROUP BY s1, s2),
         pp AS (SELECT bg.doc_id, bg.pi,
             CAST(c2 + 1 AS DOUBLE) / CAST(c1 + v AS DOUBLE) AS p
           FROM bg JOIN bgc USING (s1, s2) JOIN uni USING (s1)
             CROSS JOIN vv),
         ag AS (SELECT doc_id, list(p ORDER BY pi) AS ps
           FROM pp GROUP BY doc_id)
         SELECT doc_id, CAST(len(ps) AS BIGINT) AS n_bigrams,
           list_reduce(list_prepend(CAST(0 AS DOUBLE), ps),
             (acc, x) -> acc + x) / CAST(len(ps) AS DOUBLE) AS bpe_score
         FROM ag ORDER BY doc_id""",
  )
}
