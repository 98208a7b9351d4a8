package graft.sim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextHash

/** RAG RETRIEVAL COMPOSITION (`ss_rag_retrieve`, round 10) — the
  * text tier feeds the similarity tier end to end: the retrieval
  * loop a RAG system runs over a 100 TB corpus, composed from the
  * engine's own gated operators:
  *
  *   documents
  *     → [1] chunk          ([[graft.pipeline.CorpusOps.chunkFrame]]
  *                           — ta_chunk's exact arithmetic)
  *     → [2] embed          (feature hashing: dim = hash60(token)
  *                           mod [[Dim]], sign from the next hash
  *                           bit — the classic hashing trick; exact
  *                           integer vectors, zero-norm chunks
  *                           skipped as unembeddable)
  *     → [3] index          (sign-random-projection band sketch —
  *                           [[NBands]] bands × [[BandBits]] bits
  *                           over baked ±1 planes, the dd_embed_lsh
  *                           family's blocking shape)
  *     → [4] retrieve       (band-join candidates → exact
  *                           signed-square-cosine rerank → top
  *                           [[TopK]] per query, deterministic
  *                           tie-break)
  *
  * Queries are the held-out slice's first chunks (doc_id mod 10 =
  * [[EvalMod]] — the benchmark-holdout convention shared with the
  * corpus pipeline), the corpus is every chunk of the train slice:
  * retrieval never sees its own document, the real RAG setup.
  *
  * Exactness: embeddings, plane projections, dots and norms are
  * integers end to end; the only double is the final
  * score = dot·|dot| / (‖q‖²·‖c‖²) — two exact int64s into one
  * correctly-rounded division, bit-identical cross-engine (the
  * monotone transform of cosine that avoids sqrt: sign-preserving
  * square). The ±1 planes are baked once in Scala from md5 bytes and
  * emitted as literals into the oracle — no cross-engine float or
  * hash evaluation in the projection.
  *
  * Recall contract: candidates = pairs sharing ≥ 1 of the [[NBands]]
  * bands. A query with no band collision retrieves nothing —
  * declared, like every LSH tier here. Band WIDTH is corpus-derived
  * (the [[graft.dedup.Dedup.hiBitsFor]] discipline): r = the
  * smallest [[MinBits]]..[[MaxBits]] rung with corpus_chunks ≤
  * [[TargetBucket]]·2^r, computed as one integer CASE over the
  * corpus count riding both plans as a broadcast scalar — per-band
  * buckets stay ≈ [[TargetBucket]] and the candidate set stays the
  * LSH-band shape at EVERY corpus size, where a fixed r would grow
  * it quadratically. Each band owns a fixed [[MaxBits]]-plane
  * stride and a rung uses the stride's first r planes, so a rung
  * step REFINES buckets (prefix property, spec-pinned) instead of
  * remapping them.
  *
  * 100 TB shape: chunk+embed+sketch is one narrow pass per side (no
  * shuffle until the band join); the band join is an 8-byte-key
  * equi-join; rerank cost = candidates × one zip_with dot; the final
  * top-k is a per-query window over candidates only.
  */
object RagRetrieve {

  val Dim = 64
  /** Band width floor (the fixture regime) and ceiling (the ladder's
    * last rung — extend the ladder before a corpus outgrows it, the
    * [[graft.dedup.Dedup.hiBitsFor]] contract). MaxBits 24 (round 12,
    * VERDICT r11 item 4 — 15 capped the tier at TargetBucket·2^15 ≈
    * 8.4M corpus chunks, 3–4 orders below the declared design scale):
    * the ladder now admits TargetBucket·2^24 ≈ 4.3G chunks. The cost
    * of a longer ladder is plane-table size only — NPlanes = NBands ·
    * MaxBits baked ±1 literals (192 × 64 longs, KBs in both plans) —
    * while per-chunk sketch work stays ∝ the SELECTED rung (r of each
    * band's stride), so small corpora pay nothing for the headroom;
    * the rung-16..24 regime is spec-pinned on exact twins (collision
    * at ANY rung is scale-invariant for equal vectors) plus the
    * prefix-refinement law up to MaxBits.
    */
  val MinBits = 4
  val MaxBits = 24
  val NBands = 8
  /** FROZEN-STRIDE LADDER EXTENSION: the pre-extension ladder (rounds
    * 10–11, MaxBits 15) laid band b's planes at the contiguous stride
    * [b·15, b·15+15). Extending the ladder must NOT re-stride those
    * planes — every band key below rung 15 (and therefore every
    * persisted sketch an already-deployed index holds) would silently
    * remap. Bits 15..23 therefore live in an APPENDED plane block:
    * plane(b, r) = b·Seg0 + r for r < Seg0, else
    * NBands·Seg0 + b·(MaxBits−Seg0) + (r−Seg0). Extending the ladder
    * again appends another block the same way.
    */
  val Seg0 = 15
  val NPlanes: Int = NBands * MaxBits
  val TopK = 3
  /** Target per-band bucket occupancy: band bits r are the smallest
    * rung with corpus_chunks <= TargetBucket << r — candidates stay
    * ≈ queries × bands × TargetBucket at EVERY corpus size instead of
    * growing quadratically with a fixed r (the fixed-parameter-
    * quadratic class; integer CASE ladder, no cross-engine floats).
    */
  val TargetBucket = 256L
  /** The benchmark-holdout slice ([[graft.dedup.Dedup.BloomEvalMod]]). */
  val EvalMod: Int = graft.dedup.Dedup.BloomEvalMod

  /** ±1 projection planes, baked from md5("rag:p:d") parity — fixed
    * literals shared verbatim with the oracle.
    */
  lazy val Planes: Array[Array[Long]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(NPlanes, Dim) { (p, d) =>
      md.reset()
      val h = md.digest(s"rag:$p:$d".getBytes("UTF-8"))
      if ((h(0) & 1) == 0) 1L else -1L
    }
  }

  /** The band-bits rung for a corpus-chunk-count column. */
  private def rungOf(n: Column): Column =
    (MinBits until MaxBits).reverse
      .foldLeft(lit(MaxBits): Column)((acc, r) =>
        when(n <= lit(TargetBucket << r), r).otherwise(acc))

  /** (keys…, v: dense Dim-vector of signed token counts, nrm = ‖v‖²),
    * zero-norm chunks dropped.
    *
    * ONE hash pass (round 13, [[graft.functions.VecScatterSumAgg]]):
    * token → (d, ±1) → scatter-add into a dense `long[Dim]` buffer
    * per chunk. The former two-shuffle form (groupBy(keys, d) sums,
    * then collect_list + map re-expansion) carried up to Dim rows
    * per chunk per shuffle — the stage whose spill blew the round-12
    * disk ceiling on the 640× rung-16 attempt; the buffer form
    * crosses one pre-reduced (key, Dim-long) row per (chunk × task)
    * and needs no reassembly. Values identical by exact-integer
    * associativity (untouched dims 0, exactly the old coalesce).
    */
  private[sim] def embed(chunks: DataFrame, keys: Seq[String]): DataFrame = {
    val kc = keys.map(col)
    val h = TextHash.hash60(col("t"))
    chunks
      .select(kc :+ explode(TextHash.tokens(col("chunk_text"))).as("t"): _*)
      .select(kc ++ Seq((h % Dim).cast("int").as("d"),
        when(shiftright(h, 6) % 2 === 0, 1L).otherwise(-1L).as("sgn")): _*)
      .groupBy(kc: _*)
      .agg(graft.functions.VecScatterSumAgg
        .vecScatterAgg(col("d"), col("sgn"), Dim).as("v"))
      // ‖v‖² through the codegen'd integer dot (round 13): identical
      // exact-integer fold as the former aggregate(v, 0L, a + x·x) HOF
      // (same nulls: null array/element → null, dropped by the filter).
      .withColumn("nrm",
        graft.functions.LongDot.ldot(col("v"), col("v")))
      .filter(col("nrm") > 0)
  }

  /** Band keys over the baked planes: bit p = (v · plane_p) > 0,
    * band b = MSB-first fold of its rung's bits; the (band, bit) →
    * plane mapping is the frozen-stride segment layout implemented by
    * [[graft.functions.RungBandSketch.planeIdxPub]] (see [[Seg0]]).
    */
  private[sim] def withBands(df: DataFrame, rung: Column): DataFrame =
    // Band b owns a fixed per-segment plane stride ([[planeIdx]]);
    // rung r uses its first r planes, so growing the rung refines
    // buckets without remapping — and extending the ladder appends
    // planes without touching any existing rung's keys. Round 13:
    // the three-deep interpreted HOF fold (transform → aggregate →
    // aggregate(zip_with) — nBands × rung × Dim boxed steps per
    // chunk) is now the codegen'd [[graft.functions.RungBandSketch]]
    // carrying the same frozen-stride geometry; every key at every
    // rung is bit-identical (NativeExprEquivalenceSpec pins the
    // equivalence against the HOF form on random vectors and rungs).
    df.withColumn("bk", graft.functions.RungBandSketch
      .rungBandSketch(col("v"), rung, Planes, NBands, Seg0, MaxBits))

  /** The chunked documents frame — the shared scan both embeds run
    * over.
    */
  private def chunksOf(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.CorpusOps.chunkFrame(Tables(s, dir, "documents")
      .repartition(col("doc_id")))

  /** Embedded TRAIN-slice corpus, Lineage-materialized (round 14):
    * the frame is the shared front of THREE declared queries —
    * `ss_rag_retrieve` / `ss_rag_recall` (band frames + rung scalar)
    * and `ss_rag_index` (the dense-rank vector space) — and each
    * invocation previously re-ran the full chunk + tokenize + md5 +
    * scatter-sum pass per build (the round-13 localCheckpoint shared
    * it only WITHIN one invocation). Same cross-query-reuse class as
    * the NB tier's `ta_nb_*` Lineage frames (VERDICT r13-audited):
    * in-JVM persist, keyed (session, dir), paid by the bench's
    * untimed cold sweep and attributed; 10^4 rows × Dim longs per
    * 10^4 corpus chunks — linear, slim.
    */
  private def corpEmb(s: SparkSession, dir: String): DataFrame =
    graft.operators.Lineage.materialized(s, dir, "ss_rag_corp_emb") {
      // Built on the typed-hash child session so the per-chunk
      // VecScatterSumAgg runs under the raised ObjectHashAggregate
      // threshold without it being session-global (round 14,
      // GraftSession.typedHash scaladoc).
      embed(chunksOf(graft.GraftSession.typedHash(s), dir)
        .filter(col("doc_id") % 10 =!= EvalMod),
        Seq("doc_id", "chunk_idx"))
    }

  /** Embedded held-out first-chunk queries — shared by the banded
    * query frame (retrieve/recall) and `ss_rag_index`'s serving
    * batch; same materialization class as [[corpEmb]].
    */
  private def qryEmb(s: SparkSession, dir: String): DataFrame =
    graft.operators.Lineage.materialized(s, dir, "ss_rag_qry_emb") {
      // Typed-hash child session — the corpEmb rationale.
      embed(chunksOf(graft.GraftSession.typedHash(s), dir)
        .filter(col("doc_id") % 10 === EvalMod &&
          col("chunk_idx") === 0L), Seq("doc_id"))
    }

  /** Build the banded query/corpus frames — the shared front of
    * `ss_rag_retrieve` and `ss_rag_recall`, Lineage-materialized
    * (round 14: both queries consume both frames; the round-13
    * per-invocation localCheckpoints re-ran the embed + band sketch
    * per rep).
    */
  private def frames(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val corpE = corpEmb(s, dir)
    // The rung derives from the CORPUS side's embedded-chunk count
    // and rides both plans as one broadcast 1-row scalar (the PHash
    // cap discipline) - queries and corpus always share it. A corpus
    // past the LAST rung would silently pin at MaxBits
    // and resume quadratic candidate growth — the guard makes an
    // outgrown ladder fail loudly (raise_error wraps the count the
    // rung CASE consumes, so pruning can never drop it) instead of
    // regressing silently; extend MaxBits when it fires.
    val ladderCap = TargetBucket << MaxBits
    val nF = broadcast(corpE.agg(count(lit(1)).as("n0"))
      .select(when(col("n0") > ladderCap,
          raise_error(concat(
            lit("ss_rag_retrieve band ladder outgrown: "),
            col("n0").cast("string"),
            lit(s" corpus chunks > TargetBucket << MaxBits =" +
              s" $ladderCap; extend the MaxBits rung"))))
        .otherwise(col("n0")).as("n_chunks")))
    val corp = graft.operators.Lineage
      .materialized(s, dir, "ss_rag_corp_frame") {
        withBands(corpE.crossJoin(nF),
          rungOf(col("n_chunks"))).drop("n_chunks")
      }
    val qry = graft.operators.Lineage
      .materialized(s, dir, "ss_rag_qry_frame") {
        withBands(qryEmb(s, dir).crossJoin(nF),
          rungOf(col("n_chunks"))).drop("n_chunks")
      }
    (qry, corp)
  }

  def ragRetrieve(s: SparkSession, dir: String): DataFrame = {
    val (qry, corp) = frames(s, dir)
    retrieved(qry, corp)
      .select("q_doc_id", "rank", "doc_id", "chunk_idx", "dot",
        "qn", "cn", "score")
      .orderBy("q_doc_id", "rank")
  }

  /** Band-join candidate discovery — SLIM by design (128× find): the
    * band join and its dropDuplicates shuffle carry ONLY the key
    * triple — the dense vectors attach AFTER dedup via two keyed
    * joins in the rerank and drop again in the same projection that
    * computes the dot, so no shuffle in the plan ever carries a
    * vector per CANDIDATE (measured: the wide-row variant wrote a
    * candidate-proportional multi-GB-per-octave shuffle that filled
    * local disk at 128×; candidates are linear in queries ×
    * TargetBucket, so the slim shuffle is a few dozen bytes per
    * candidate at any scale).
    */
  private def bandCandidates(qry: DataFrame,
      corp: DataFrame): DataFrame = {
    // Spread the banded CORPUS side before the join (round 14, VERDICT
    // r13 item 1): the band join broadcasts the query side, so the
    // skew-inflated pair blowup is PRODUCED with the corpus stream's
    // partitioning — and the checkpointed banded frames materialize
    // with few partitions at fixture scale (a ~1 MB compressed
    // aggregate output), so even after round 13 spread the pairs
    // AFTER the join, the join itself emitted them from few tasks.
    // The spread key is (doc_id, chunk_idx) — skew-NEUTRAL (a hot
    // band bucket's chunks distribute uniformly; the band key (bi,
    // bh) would put the measured 71%-occupancy bucket in one task) —
    // and the partition count is DATA-derived: one partition per
    // [[TargetBucket]] corpus chunks (each task then owns ≈
    // TargetBucket × NBands band rows and produces its proportional
    // share of pairs at any corpus size), floored at the session's
    // parallelism so fixture-scale corpora still use every core. The
    // count() is a driver 1-row scalar read over the (checkpointed)
    // banded frame — the sanctioned scalar class; placement-only, the
    // joined pair multiset is identical.
    val nParts = math.max(
      corp.sparkSession.sparkContext.defaultParallelism,
      math.ceil(corp.count().toDouble / TargetBucket).toInt)
    val cB = corp.select(col("doc_id"), col("chunk_idx"),
      posexplode(col("bk")).as(Seq("bi", "bh")))
      .repartition(nParts, col("doc_id"), col("chunk_idx"))
    val qB = qry.select(col("doc_id").as("q_doc_id"),
      posexplode(col("bk")).as(Seq("bi", "bh")))
    qB.join(cB, Seq("bi", "bh"))
      .select("q_doc_id", "doc_id", "chunk_idx")
      // Spread the pair stream by QUERY before the dedup (round 13):
      // the banded frames are checkpointed small (AQE coalesces them
      // to ~1 partition at fixture scale), so the band join emits its
      // skew-inflated pair blowup into one task and the dedup's
      // partial aggregate built the full distinct set on one core
      // (measured: the dedup was 4 of ss_rag_retrieve's 7 s; ~1.5 s
      // after the spread). q_doc_id is the skew-NEUTRAL spread key —
      // a hot band bucket's pairs distribute across its queries —
      // and the exchange also pre-clusters for the rerank's
      // per-query window. Placement-only; the deduped set is
      // identical.
      .repartition(col("q_doc_id"))
      .dropDuplicates("q_doc_id", "doc_id", "chunk_idx")
  }

  /** LSH retrieval over banded frames: band-join candidates → exact
    * rerank → top [[TopK]] rows per query (unordered — callers add
    * their own total order).
    */
  private def retrieved(qry: DataFrame, corp: DataFrame): DataFrame =
    rerank(bandCandidates(qry, corp), qry, corp)

  /** Exact rerank of a slim candidate frame (q_doc_id, doc_id,
    * chunk_idx): attach vectors by key, score, window to top
    * [[TopK]] — factored from [[retrieved]] so [[recallStats]] can
    * feed a restriction of an ALREADY-built candidate frame instead
    * of running the band join twice (VERDICT r11 item 8).
    */
  private def rerank(cand: DataFrame, qry: DataFrame,
      corp: DataFrame): DataFrame = {
    val dot = aggregate(zip_with(col("qv"), col("cv"),
      (x, y) => x * y), lit(0L), (a, y) => a + y)
    val scored = cand
      .join(qry.select(col("doc_id").as("q_doc_id"),
        col("v").as("qv"), col("nrm").as("qn")), Seq("q_doc_id"))
      .join(corp.select(col("doc_id"), col("chunk_idx"),
        col("v").as("cv"), col("nrm").as("cn")),
        Seq("doc_id", "chunk_idx"))
      .withColumn("dot", dot)
      .select(col("q_doc_id"), col("doc_id"), col("chunk_idx"),
        col("dot"), col("qn"), col("cn"),
        ((col("dot") * abs(col("dot"))).cast("double") /
          (col("qn") * col("cn")).cast("double")).as("score"))
    val w = Window.partitionBy("q_doc_id")
      .orderBy(col("score").desc, col("doc_id"), col("chunk_idx"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TopK)
  }

  /** The md5-ranked fixed-size query sample (doc_id rows) — the
    * bounded MEASUREMENT/SERVING batch shared by the recall contract
    * and the persisted-index serving row. Selected with
    * orderBy + limit — Spark plans TakeOrderedAndProject (bounded
    * per-partition heaps, driver merge of ≤ [[RecallSample]] rows per
    * partition), equal to the old global row_number ≤ K window
    * because (mh, doc_id) totally orders the rows, with no
    * all-queries single-partition sort (VERDICT r11 item 3's second
    * instance).
    */
  private def sampleDocIds(q: DataFrame): DataFrame =
    q.select(col("doc_id"),
        md5(concat(lit("rq:"), col("doc_id").cast("string"))).as("mh"))
      .orderBy(col("mh"), col("doc_id"))
      .limit(RecallSample)
      .select("doc_id")

  /** Queries measured by the recall contract: a fixed-size
    * deterministic hash-ordered sample of the held-out queries
    * (md5-ranked — the seeded-sampling discipline), so the
    * brute-force truth side stays one corpus pass × [[RecallSample]]
    * broadcast rows at ANY corpus size while the gate's fixture
    * (fewer queries than the cap) is measured in full.
    */
  val RecallSample = 64

  /** ss_rag_recall — the retrieval tier's MEASURED quality contract
    * (VERDICT r10 item 2): brute-force exact signed-square-cosine
    * top-[[TopK]] over the sampled queries is the truth set; the row
    * gates the hit count, the truth count, the derived recall, and
    * the no-collision query count (n_queries − n_retrieving) so a
    * band-parametrization regression turns the row red instead of
    * silently returning fewer/worse neighbors.
    *
    * 100 TB shape: the truth side broadcasts [[RecallSample]] dense
    * query vectors past one corpus scan (a broadcast nested-loop by
    * construction — the brute-force BASELINE class, like
    * ss_cosine_topk); everything else reuses the production retrieval
    * plan unchanged.
    */
  def ragRecall(s: SparkSession, dir: String): DataFrame = {
    val (qry, corp) = frames(s, dir)
    recallStats(qry, corp)
  }

  /** The measured-recall machinery over banded frames — factored so
    * the spec drives a crafted lossy-rung corpus through the exact
    * production path.
    */
  private[sim] def recallStats(qry: DataFrame, corp: DataFrame)
      : DataFrame = {
    val mqDocs = sampleDocIds(qry)
    // TWO SLIM JOINS instead of one materialized candidate frame
    // (round 13, revisiting VERDICT r11 item 8): natural-text sign
    // buckets are SKEWED (measured at sf0.1: the hottest band bucket
    // holds 71% of corpus chunks), so the full candidate set is ~6×
    // the uniform TargetBucket estimate and checkpointing it was the
    // dominant recall phase (4.4–6.2 s of a ~9.5 s row). Neither
    // consumer needs it materialized:
    //  - the exact rerank needs only the MEASURED queries' candidates
    //    (per-query top-k is independent of other queries, so
    //    restricting the query side BEFORE the band join equals
    //    restricting the candidate set after it — dropDuplicates
    //    commutes with the q_doc_id restriction);
    //  - the no-collision surface needs only EXISTENCE of ≥ 1 band
    //    candidate per query — a LEFT SEMI band join (no candidate
    //    dedup, no wide shuffle; distinct q_doc_id of pairs ≡
    //    distinct q_doc_id of the deduped set by definition).
    // r11 item 8 barred running the FULL candidate join twice for two
    // full consumers; these are one 13%-of-queries join plus one
    // semi-join that never materializes candidates at all — strictly
    // less work than either full-join form. Oracle unchanged and
    // re-verified (the SQL twin still derives both surfaces from its
    // one `cand` CTE).
    val ret = graft.operators.PhaseLog.phase("rag recall: ret ckpt") {
      rerank(
        bandCandidates(qry.join(broadcast(mqDocs), "doc_id"), corp),
        qry, corp).localCheckpoint()
    }
    val mq = mqDocs.select(col("doc_id").as("q_doc_id"))
      .join(qry.select(col("doc_id").as("q_doc_id"),
        col("v").as("qv"), col("nrm").as("qn")), Seq("q_doc_id"))
    val dot = aggregate(zip_with(col("qv"), col("cv"),
      (x, y) => x * y), lit(0L), (a, y) => a + y)
    val tw = Window.partitionBy("q_doc_id")
      .orderBy(col("score").desc, col("doc_id"), col("chunk_idx"))
    // Slice disjointness (corpus = train, queries = eval) makes the
    // predicate vacuous — it documents the never-its-own-document
    // rule and keeps the plan an explicit broadcast nested loop.
    val truth = corp
      .select(col("doc_id"), col("chunk_idx"), col("v").as("cv"),
        col("nrm").as("cn"))
      .join(broadcast(mq), col("q_doc_id") =!= col("doc_id"))
      .withColumn("dot", dot)
      .withColumn("score",
        (col("dot") * abs(col("dot"))).cast("double") /
          (col("qn") * col("cn")).cast("double"))
      .withColumn("trk", row_number().over(tw))
      .filter(col("trk") <= TopK)
      .select("q_doc_id", "doc_id", "chunk_idx")
    val truthC = graft.operators.PhaseLog.phase("rag recall: truth ckpt") {
      truth.localCheckpoint()
    }
    val nQ = qry.agg(count(lit(1)).as("n_queries"))
    // A query retrieves iff ≥ 1 band candidate exists: LEFT SEMI over
    // the band keys — the existence bit without ever deduplicating
    // the (skew-inflated) candidate pairs.
    val nR = qry
      .select(col("doc_id").as("q_doc_id"), posexplode(col("bk"))
        .as(Seq("bi", "bh")))
      .join(broadcast(corp.select(posexplode(col("bk"))
        .as(Seq("bi", "bh")))), Seq("bi", "bh"), "left_semi")
      .select("q_doc_id").distinct()
      .agg(count(lit(1)).as("n_retrieving"))
    val nM = mq.agg(count(lit(1)).as("n_measured"))
    val nT = truthC.agg(count(lit(1)).as("n_truth"))
    val nH = truthC
      .join(ret.select("q_doc_id", "doc_id", "chunk_idx"),
        Seq("q_doc_id", "doc_id", "chunk_idx"))
      .agg(count(lit(1)).as("n_hit"))
    nQ.crossJoin(broadcast(nR)).crossJoin(broadcast(nM))
      .crossJoin(broadcast(nT)).crossJoin(broadcast(nH))
      .select(col("n_queries"), col("n_retrieving"),
        col("n_measured"), col("n_truth"), col("n_hit"),
        (col("n_hit").cast("double") / col("n_truth").cast("double"))
          .as("recall"))
  }

  // -----------------------------------------------------------------
  // ss_rag_index (VERDICT r10 item 5): RAG served from the PERSISTED
  // index — the chunk-embed corpus composed into the
  // [[VectorIndex]] artifact lifecycle (build on the base slice,
  // append the suffix batch — the ss_ivfpq_incr discipline) and the
  // held-out queries probed through [[VectorIndex.search]] (IVFADC
  // over the stored Hive layout, DPP-pruned to NProbe cid
  // directories, exact rerank). This gates the persisted/versioned
  // index tier on the workload it exists for: the production serving
  // shape is a probe against the stored artifact, not a per-session
  // band sketch.
  //
  // Id conventions (cross-engine deterministic): corpus vec_id = the
  // (doc_id, chunk_idx)-ordered dense rank (a slim-key global
  // window); query_id = doc_id + [[QOff]], disjoint from every
  // vec_id so the search's own-id exclusion can never fire (queries
  // are held out of the corpus by the eval split already).
  //
  // 100 TB shape: everything downstream of the embed pass is the
  // gated VectorIndex machinery (broadcast quantizers, |batch|-cost
  // append, DPP probe); the dense-rank window shuffles only
  // (doc_id, chunk_idx) key pairs.

  /** Query-id offset: far above any dense-rank vec_id. */
  val QOff: Long = 1L << 40

  private def gatePath(s: SparkSession, dir: String): String = {
    graft.operators.GateSweep.sweepStale()
    "/tmp/graft_rag_index_" +
      java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString +
      s"_${ProcessHandle.current().pid()}_${System.identityHashCode(s)}"
  }

  def ragIndex(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions.l2norm
    val path = gatePath(s, dir)
    // The embed passes are the [[corpEmb]]/[[qryEmb]] shared frames
    // (round 14) — this query previously re-ran both full
    // chunk+tokenize+scatter-sum passes per invocation.
    val corpE = corpEmb(s, dir)
    // vec_id by DISTRIBUTED zipWithIndex (VERDICT r11 item 3): the
    // (doc_id, chunk_idx)-ordered dense rank previously ran as ONE
    // global window partition — every corpus chunk through a single
    // task. The vocabFull discipline (range partition by the total-
    // order key, per-partition row numbers, broadcast offsets)
    // assigns the identical ids with no data-sized single-partition
    // stage, and carries v/nrm through its one range exchange so the
    // old ids⋈corpE re-join disappears too.
    val corpV = graft.pipeline.CorpusOps.zipIndex(
        corpE, Seq(asc("doc_id"), asc("chunk_idx")), "vec_id")
      .select(col("vec_id"), col("doc_id"), col("chunk_idx"),
        transform(col("v"), x => x.cast("double")).as("v"))
      .withColumn("nrm", l2norm(col("v"))).localCheckpoint()
    // The SERVING BATCH is the bounded md5 sample (128× find: probing
    // ALL held-out queries makes ADC work ∝ queries × occupancy =
    // N²/K under the fixed coarse quantizer — queries-per-batch is a
    // WORKLOAD property, so the gated row serves a fixed batch and
    // the corpus side alone scales; measured 11.5×/10× before,
    // linear after).
    val qE = qryEmb(s, dir)
    val qV = sampleDocIds(qE).join(qE, "doc_id")
      .select((col("doc_id") + QOff).as("query_id"),
        transform(col("v"), x => x.cast("double")).as("qv"))
      .withColumn("qn", l2norm(col("qv"))).localCheckpoint()
    graft.operators.Lineage.ensure(s, dir, "ss_rag_index_store") {
      val et = VectorIndex.phase("rag: threshold ckpt") {
        VectorIndex.withThreshold(
          corpV.select("vec_id", "v", "nrm")).localCheckpoint()
      }
      VectorIndex.build(
        et.filter(col("vec_id") < col("thr")).drop("thr"), path)
      VectorIndex.append(s, path,
        et.filter(col("vec_id") >= col("thr")).drop("thr"))
    }
    VectorIndex.search(s, path, qV, corpV.select("vec_id", "v", "nrm"))
      .join(corpV.select(col("vec_id").as("neighbor_id"),
        col("doc_id"), col("chunk_idx")), "neighbor_id")
      .select((col("query_id") - QOff).as("q_doc_id"), col("rank"),
        col("doc_id"), col("chunk_idx"), col("cos"))
      .orderBy("q_doc_id", "rank")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ss_rag_retrieve" -> ragRetrieve,
    "ss_rag_recall" -> ragRecall,
    "ss_rag_index" -> ragIndex,
  )

  // ---------------------------------------------------------------
  // Oracle: the same chain — ta_chunk's CTE arithmetic, the hashing-
  // trick embedding as one unnest + GROUP BY per side, plane
  // projections against the SAME baked literals via a (p, d, pw)
  // literal table join, band folds, band-join candidates, exact
  // rerank, windowed top-k.
  private val PlanesFlat: String =
    Planes.flatten.mkString("[", ", ", "]")

  /** The rung ladder as one integer CASE over the corpus chunk
    * count — [[rungOf]]'s SQL twin, emitted from the same constants.
    */
  private val RungCase: String =
    (MinBits until MaxBits).reverse.foldLeft(s"$MaxBits")((acc, r) =>
      s"CASE WHEN n <= ${TargetBucket << r} THEN $r ELSE $acc END")
  private val CL = graft.pipeline.CorpusOps.ChunkLen
  private val CS = graft.pipeline.CorpusOps.ChunkStride

  /** Embedding + band CTE block over `$src (doc_id, chunk_idx,
    * chunk_text)`: emits `${pfx}dw` (sparse weights), `${pfx}n`
    * (norms, zero-norm dropped), `${pfx}bk` (band keys).
    */
  private def embCtes(src: String, pfx: String): String =
    s"""${pfx}tk AS (SELECT doc_id, chunk_idx,
           unnest(regexp_extract_all(lower(chunk_text), '[a-z0-9]+'))
             AS t
         FROM $src),
       ${pfx}h AS (SELECT doc_id, chunk_idx,
           CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) AS h
         FROM ${pfx}tk),
       ${pfx}dw AS (SELECT doc_id, chunk_idx, h % $Dim AS d,
           CAST(SUM(CASE WHEN (h // 64) % 2 = 0 THEN 1 ELSE -1 END)
             AS BIGINT) AS w
         FROM ${pfx}h GROUP BY doc_id, chunk_idx, d),
       ${pfx}n AS (SELECT doc_id, chunk_idx,
           CAST(SUM(w * w) AS BIGINT) AS nrm
         FROM ${pfx}dw GROUP BY doc_id, chunk_idx
         HAVING SUM(w * w) > 0),
       ${pfx}bt AS (SELECT doc_id, chunk_idx, pl.p,
           CASE WHEN SUM(w * pw) > 0 THEN 1 ELSE 0 END AS bit
         FROM ${pfx}dw JOIN ${pfx}n USING (doc_id, chunk_idx)
         JOIN pl USING (d)
         GROUP BY doc_id, chunk_idx, pl.p)"""

  /** The frozen-stride inverse of [[planeIdx]] as SQL: plane p →
    * band index and bit position.
    */
  private val PSeg = NBands * Seg0
  private val PBand =
    s"CASE WHEN p < $PSeg THEN p // $Seg0" +
      s" ELSE (p - $PSeg) // ${MaxBits - Seg0} END"
  private val PBit =
    s"CASE WHEN p < $PSeg THEN p % $Seg0" +
      s" ELSE $Seg0 + (p - $PSeg) % ${MaxBits - Seg0} END"

  /** Rung-windowed band fold over `${pfx}bt` — emitted AFTER the
    * `rr` rung CTE (which needs the corpus norms), for both sides.
    */
  private def bandCte(pfx: String): String =
    s"""${pfx}bk AS (SELECT doc_id, chunk_idx, $PBand AS bi,
           CAST(SUM(CASE WHEN ($PBit) < rr.r
             THEN bit << CAST(rr.r - 1 - ($PBit) AS INTEGER)
             ELSE 0 END) AS BIGINT) AS bh
         FROM ${pfx}bt CROSS JOIN rr
         GROUP BY doc_id, chunk_idx, bi, rr.r)"""

  /** Chunk + embed prefix (documents → `cdw`/`cn`/`qdw`/`qn` sparse
    * embeddings + the plane literal table) — shared by the LSH
    * retrieval chain and the persisted-index serving oracle.
    */
  private lazy val EmbedCtes: String =
    s"""d0 AS (SELECT doc_id, string_split(text, ' ') AS toks
           FROM documents),
         n0 AS (SELECT doc_id, toks, len(toks) AS nt FROM d0),
         chx AS (SELECT doc_id, toks,
             unnest(generate_series(0, CASE WHEN nt <= $CL THEN 0
               ELSE (nt - $CL + $CS - 1) // $CS END)) AS chunk_idx
           FROM n0),
         cht AS (SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
             array_to_string(
               toks[chunk_idx*$CS + 1 : chunk_idx*$CS + $CL], ' ')
               AS chunk_text
           FROM chx),
         corp AS (SELECT * FROM cht WHERE doc_id % 10 <> $EvalMod),
         qry AS (SELECT * FROM cht
           WHERE doc_id % 10 = $EvalMod AND chunk_idx = 0),
         pl AS (SELECT CAST(i // $Dim AS BIGINT) AS p,
             CAST(i % $Dim AS BIGINT) AS d,
             pls[CAST(i + 1 AS INTEGER)] AS pw
           FROM (SELECT unnest(range(0, ${NPlanes * Dim})) AS i,
             $PlanesFlat AS pls)),
         ${embCtes("corp", "c")},
         ${embCtes("qry", "q")}"""

  /** The retrieval chain's CTEs (chunk → embed → bands → candidates →
    * rerank → ranked `rk`), shared by the retrieval row and the
    * recall-contract row so the measured pipeline IS the gated one.
    */
  private lazy val ChainCtes: String =
    s"""$EmbedCtes,
         rr AS (SELECT $RungCase AS r
           FROM (SELECT COUNT(*) AS n FROM cn)),
         ${bandCte("c")},
         ${bandCte("q")},
         cand AS (SELECT DISTINCT q.doc_id AS q_doc_id,
             c.doc_id, c.chunk_idx
           FROM qbk q JOIN cbk c ON q.bi = c.bi AND q.bh = c.bh),
         dots AS (SELECT cand.q_doc_id, cand.doc_id, cand.chunk_idx,
             CAST(COALESCE(SUM(qd.w * cd.w), 0) AS BIGINT) AS dot
           FROM cand
           LEFT JOIN qdw qd ON qd.doc_id = cand.q_doc_id
           LEFT JOIN cdw cd ON cd.doc_id = cand.doc_id
             AND cd.chunk_idx = cand.chunk_idx AND cd.d = qd.d
           GROUP BY cand.q_doc_id, cand.doc_id, cand.chunk_idx),
         scored AS (SELECT t.q_doc_id, t.doc_id, t.chunk_idx, t.dot,
             qn.nrm AS qn, cn.nrm AS cn,
             CAST(t.dot * abs(t.dot) AS DOUBLE)
               / CAST(qn.nrm * cn.nrm AS DOUBLE) AS score
           FROM dots t
           JOIN qn ON qn.doc_id = t.q_doc_id
           JOIN cn ON cn.doc_id = t.doc_id
             AND cn.chunk_idx = t.chunk_idx),
         rk AS (SELECT *, CAST(row_number() OVER (
             PARTITION BY q_doc_id
             ORDER BY score DESC, doc_id, chunk_idx) AS BIGINT) AS rank
           FROM scored)"""

  val oracles: Map[String, String] = Map(
    "ss_rag_retrieve" ->
      s"""WITH $ChainCtes
         SELECT q_doc_id, rank, doc_id, chunk_idx, dot, qn, cn, score
         FROM rk WHERE rank <= $TopK
         ORDER BY q_doc_id, rank""",
    // The recall contract: brute-force exact top-k over the md5-
    // sampled queries (zero-shared-dimension pairs materialized with
    // dot = 0 via the all-pairs left join — the dense-vector side
    // scores EVERY pair), intersected with the LSH answer.
    "ss_rag_recall" ->
      s"""WITH $ChainCtes,
         ret AS (SELECT q_doc_id, doc_id, chunk_idx FROM rk
           WHERE rank <= $TopK),
         mq AS (SELECT doc_id FROM (SELECT doc_id,
             row_number() OVER (ORDER BY
               md5('rq:' || CAST(doc_id AS VARCHAR)), doc_id) AS mrn
           FROM qn) t WHERE mrn <= $RecallSample),
         allp AS (SELECT mq.doc_id AS q_doc_id, cn.doc_id,
             cn.chunk_idx, cn.nrm AS cnn
           FROM mq CROSS JOIN cn),
         bfd AS (SELECT qd.doc_id AS q_doc_id, cd.doc_id,
             cd.chunk_idx, CAST(SUM(qd.w * cd.w) AS BIGINT) AS dot
           FROM qdw qd JOIN mq ON mq.doc_id = qd.doc_id
           JOIN cdw cd ON cd.d = qd.d
           GROUP BY qd.doc_id, cd.doc_id, cd.chunk_idx),
         btr AS (SELECT a.q_doc_id, a.doc_id, a.chunk_idx,
             row_number() OVER (PARTITION BY a.q_doc_id ORDER BY
               CAST(COALESCE(b.dot, 0) * abs(COALESCE(b.dot, 0))
                 AS DOUBLE) / CAST(qn.nrm * a.cnn AS DOUBLE) DESC,
               a.doc_id, a.chunk_idx) AS trk
           FROM allp a
           LEFT JOIN bfd b ON b.q_doc_id = a.q_doc_id
             AND b.doc_id = a.doc_id AND b.chunk_idx = a.chunk_idx
           JOIN qn ON qn.doc_id = a.q_doc_id),
         truth AS (SELECT q_doc_id, doc_id, chunk_idx FROM btr
           WHERE trk <= $TopK)
         SELECT *, CAST(n_hit AS DOUBLE) / CAST(n_truth AS DOUBLE)
             AS recall
         FROM (SELECT
           (SELECT CAST(COUNT(*) AS BIGINT) FROM qn) AS n_queries,
           (SELECT CAST(COUNT(DISTINCT q_doc_id) AS BIGINT) FROM ret)
             AS n_retrieving,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM mq) AS n_measured,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_truth,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM truth
             JOIN ret USING (q_doc_id, doc_id, chunk_idx)) AS n_hit
         ) t""",
    // The persisted-index serving twin: dense-rank the corpus chunks
    // into the VectorSearch vector space (exact integer weights as
    // doubles, L2 norms), train base-slice quantizers, encode the
    // FULL corpus, probe + ADC + exact rerank — the ss_ivfpq_incr
    // rebuild-equivalence applied to the RAG workload. Matching
    // hashes prove the build/append/search lifecycle over the stored
    // Hive layout computes exactly this.
    "ss_rag_index" -> {
      import VectorSearch.{dCos, dNorm, DAdcEst, kmCtes, pqCtes,
        NProbe, PqRerank}
      s"""WITH $EmbedCtes,
         cgrid AS (SELECT n.doc_id, n.chunk_idx, g.d,
             CAST(COALESCE(w.w, 0) AS DOUBLE) AS wd
           FROM cn n CROSS JOIN (SELECT unnest(range(0, $Dim)) AS d) g
           LEFT JOIN cdw w ON w.doc_id = n.doc_id
             AND w.chunk_idx = n.chunk_idx AND w.d = g.d),
         cds AS MATERIALIZED (SELECT doc_id, chunk_idx,
             list(wd ORDER BY d) AS v
           FROM cgrid GROUP BY doc_id, chunk_idx),
         rnk AS MATERIALIZED (SELECT doc_id, chunk_idx,
             CAST(row_number() OVER (ORDER BY doc_id, chunk_idx) - 1
               AS BIGINT) AS vec_id
           FROM cds),
         e AS MATERIALIZED (SELECT vec_id, v, ${dNorm("v")} AS nrm
           FROM cds JOIN rnk USING (doc_id, chunk_idx)),
         eb AS MATERIALIZED (SELECT * FROM e WHERE vec_id <
           (SELECT CAST(floor(COUNT(*) * ${VectorIndex.BaseFrac})
             AS BIGINT) FROM e)),
         mqi AS (SELECT doc_id FROM (SELECT doc_id,
             row_number() OVER (ORDER BY
               md5('rq:' || CAST(doc_id AS VARCHAR)), doc_id) AS mrn
           FROM qn) t WHERE mrn <= $RecallSample),
         qgrid AS (SELECT n.doc_id, g.d,
             CAST(COALESCE(w.w, 0) AS DOUBLE) AS wd
           FROM qn n JOIN mqi USING (doc_id)
           CROSS JOIN (SELECT unnest(range(0, $Dim)) AS d) g
           LEFT JOIN qdw w ON w.doc_id = n.doc_id AND w.d = g.d),
         q AS MATERIALIZED (SELECT doc_id + $QOff AS query_id,
             v AS qv, ${dNorm("v")} AS qn
           FROM (SELECT doc_id, list(wd ORDER BY d) AS v FROM qgrid
             GROUP BY doc_id)),
         ${kmCtes("eb")},
         asg AS (SELECT vec_id, cid FROM (
             SELECT e.vec_id, cent.cid,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY
                 ${dCos("e.v", "cv", "e.nrm", "cn")} DESC, cid) AS rn
             FROM e CROSS JOIN cent) WHERE rn = 1),
         pr AS (SELECT query_id, cid FROM (
             SELECT q.query_id, cent.cid,
               row_number() OVER (PARTITION BY q.query_id ORDER BY
                 ${dCos("qv", "cv", "qn", "cn")} DESC, cid) AS rn
             FROM q CROSS JOIN cent) WHERE rn <= $NProbe),
         ${pqCtes("eb")},
         est AS (SELECT pr.query_id, asg.vec_id AS neighbor_id,
             $DAdcEst AS est
           FROM pr JOIN asg USING (cid)
             JOIN codes ON codes.vec_id = asg.vec_id
             JOIN dt ON dt.query_id = pr.query_id
           WHERE asg.vec_id <> pr.query_id),
         cand AS (SELECT query_id, neighbor_id FROM (
             SELECT query_id, neighbor_id, row_number() OVER (
               PARTITION BY query_id ORDER BY est, neighbor_id) AS rn
             FROM est) WHERE rn <= $PqRerank),
         sc AS (SELECT cand.query_id, cand.neighbor_id,
             ${dCos("q.qv", "e.v", "q.qn", "e.nrm")} AS cos
           FROM cand JOIN q USING (query_id)
             JOIN e ON e.vec_id = cand.neighbor_id),
         rk AS (SELECT query_id, neighbor_id, cos,
             CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
           FROM sc)
         SELECT rk.query_id - $QOff AS q_doc_id, rank,
           r2.doc_id, r2.chunk_idx, cos
         FROM rk JOIN rnk r2 ON r2.vec_id = rk.neighbor_id
         WHERE rank <= ${VectorSearch.TopK}
         ORDER BY q_doc_id, rank"""
    },
  )
}
