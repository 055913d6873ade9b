package graft.streaming

import graft.functions.VectorFunctions._
import graft.operators.KnnJoin
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming twins of the batch event operators (e1/e2 in
  * SURVEY §2): the same semantics expressed over an unbounded stream.
  *
  * - `windowedCounts`: tumbling event-time window + watermark → late data
  *   handled by the engine, state bounded by the watermark horizon.
  * - `sessionize`: per-user inactivity-gap sessions via
  *   `flatMapGroupsWithState` — the custom-state escape hatch for
  *   semantics window functions can't express incrementally.
  *
  * At scale: state is partitioned by the grouping key across executors;
  * the watermark/timeout bounds state size so the job runs forever.
  */
object StreamingOps {

  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                   event_type: String, value: Double)
  case class PropsEvent(ts: java.sql.Timestamp, event_type: String,
                        props: String)
  case class SessionState(startTs: Long, lastTs: Long, events: Long)
  /** `session_id` is the session's START epoch-millis — globally unique
    * per user WITHOUT cross-session state, so a timeout can drop the
    * user's state entirely (no leak) and ids never collide or reset. */
  case class SessionUpdate(user_id: Long, session_id: Long, n_events: Long)

  /** Stream-static enrichment: attach a static dim (labels, categories,
    * quality tiers) to a stream at ingest. The dim is broadcast per
    * micro-batch — at 100 TB/day the stream side never shuffles; a
    * gallery-sized dim would instead be a pre-bucketed static table
    * ([[graft.sources.BucketedStore]]) joined on its bucket key. */
  def enrich(stream: DataFrame, dim: DataFrame,
             key: String): DataFrame =
    stream.join(broadcast(dim), Seq(key), "left")

  /** Streaming JSON extraction + windowed aggregation — the continuous
    * twin of the batch e7 op: parse the opaque `props` payload with
    * `get_json_object` (same codegen'd path evaluation as batch, no
    * UDF) and aggregate per (tumbling window, event_type, k-decile)
    * under a watermark. Schema-on-read at ingest; state bounded by the
    * watermark horizon. */
  def extractProps(events: DataFrame, watermark: String = "30 minutes",
                   windowLen: String = "1 hour"): DataFrame =
    events
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"),
        expr("k div 10").as("k_bucket"))
      .agg(count(lit(1)).as("n"), sum("k").as("sum_k"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("k_bucket"), col("n"), col("sum_k"))

  /** Stream-static KNN: score a stream of query vectors against a
    * static gallery and keep each query's top-k — the continuous twin
    * of batch retrieval (`KnnJoin.knnL2`), e.g. scoring fresh documents
    * against a reference embedding set at ingest. The static gallery
    * broadcasts once; scores are the same exact integer squared L2 the
    * batch scan computes, ranked by the same bounded top-k
    * ([[graft.plans.TopKAggregate]]), so streaming results match batch
    * bit-for-bit. State per query is the k-element heap (update/
    * complete output modes). The one exact-L2 ranking outside
    * [[KnnJoin]]: the blocked scan broadcasts the queries, but here
    * the queries are the stream and the static gallery is the
    * broadcast side, so this stays a crossjoin. */
  def knnStream(queries: DataFrame, gallery: DataFrame, qidCol: String,
                vecCol: String, gidCol: String, k: Int,
                scale: Int = graft.functions.VectorFunctions.DefaultScale): DataFrame = {
    val g = gallery.select(col(gidCol).cast("long").as("neighbor_id"),
      quantize(col(vecCol), scale).as("gv"))
    val q = queries.select(col(qidCol).cast("long").as("query_id"),
      quantize(col(vecCol), scale).as("qv"))
    val scored = q.crossJoin(broadcast(g))
      .select(col("query_id"), col("neighbor_id"),
        intL2Sq(col("gv"), col("qv")).cast("double").as("d2"))
    graft.operators.TopK.perGroup(scored, "query_id", "neighbor_id",
        "d2", k, ascending = true)
      .select(col("query_id"), col("rnk"), col("neighbor_id"),
        distFromIntSq(col("d2"), scale).as("dist"))
  }

  /** Streaming exact dedup (twin of d1, the training-data ingest gate):
    * emit only first-seen content hashes. State is bounded by the
    * watermark horizon via `dropDuplicatesWithinWatermark` — at 100 TB/
    * day the dedup state would otherwise grow without bound; within-
    * horizon exactness is the standard contract for streaming ingest
    * (cross-horizon dups are caught by the batch pass, Dedup.exact). */
  def dedupStream(docs: DataFrame, textCol: String, tsCol: String,
                  watermarkDelay: String = "30 minutes"): DataFrame =
    docs.withColumn("text_hash", md5(col(textCol)))
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark("text_hash")

  /** Continuous NEAR-dup admission (streaming twin of the gated d23):
    * every arriving doc is MinHash-banded inside its micro-batch and
    * joined STREAM-STATIC against the persisted GUARDED band index
    * ([[graft.operators.Dedup.bandIndex]] through BucketedStore), then
    * only banded candidates pay the exact-Jaccard verify against the
    * static base corpus by id. Emits (batch_id, base_id, inter, uni,
    * jaccard) admission flags — what an ingest pipeline uses to reject
    * or down-weight a doc the moment it arrives. Scale shape: the
    * static sides never re-shuffle (the band store is bucketed by
    * band_hash; per micro-batch only the stream's own bands move);
    * multi-band duplicate candidates are collapsed by
    * `dropDuplicatesWithinWatermark` keyed on the pair — bounded
    * state, expired by the watermark. Same banding arithmetic as the
    * batch operator, so on a bounded stream the admitted pair set
    * equals d23's batch output. */
  def nearDupAdmission(docs: DataFrame, textCol: String, tsCol: String,
                       seenBands: DataFrame, base: DataFrame,
                       idCol: String = "doc_id",
                       threshold: Double = 0.5,
                       watermarkDelay: String = "30 minutes"): DataFrame = {
    import graft.functions.TextFunctions.{bandHashes, minhashSignature, shingles}
    val b = docs.select(col(idCol).cast("long").as("batch_id"),
        col(tsCol).as("ts"), shingles(col(textCol), 3).as("shb"))
      .withWatermark("ts", watermarkDelay)
    val banded = b.select(col("batch_id"), col("ts"), col("shb"),
      posexplode(bandHashes(minhashSignature(col("shb"), 12), 4, 3))
        .as(Seq("band_idx", "band_hash")))
    banded.join(seenBands, Seq("band_idx", "band_hash"))
      .select(col("batch_id"), col("ts"), col("shb"),
        col("doc_id").as("base_id"))
      .dropDuplicatesWithinWatermark("batch_id", "base_id")
      .join(base.select(col("doc_id").cast("long").as("base_id"),
        shingles(col(textCol), 3).as("sha")), "base_id")
      .withColumn("inter",
        size(array_intersect(col("sha"), col("shb"))).cast("long"))
      .withColumn("uni",
        (size(col("sha")) + size(col("shb"))).cast("long") - col("inter"))
      .withColumn("jaccard", col("inter") / col("uni"))
      .filter(col("jaccard") >= threshold)
      .select("batch_id", "base_id", "inter", "uni", "jaccard")
  }

  /** Stream-stream interval join (streaming twin of the e4 range join):
    * each left event pairs with right events of the same key whose
    * event time falls in the half-open window [left.ts − delta,
    * left.ts) — the SAME bound as `TemporalJoins.rangeJoinAgg`, so
    * batch backfill and the stream agree on same-timestamp events.
    * Both sides carry watermarks and the join condition time-bounds
    * both directions, so the engine can expire state — the requirement
    * for an unbounded run. Column contract: left (lk, lts, ...),
    * right (rk, rts, ...). */
  def intervalJoin(left: DataFrame, right: DataFrame,
                   deltaSeconds: Long,
                   watermarkDelay: String = "30 minutes"): DataFrame = {
    val l = left.withWatermark("lts", watermarkDelay)
    val r = right.withWatermark("rts", watermarkDelay)
    l.join(r, col("lk") === col("rk") &&
      col("rts") >= col("lts") - expr(s"INTERVAL $deltaSeconds SECONDS") &&
      col("rts") < col("lts"))
  }

  case class StreakState(lastDay: Long, cur: Long, best: Long,
                         nDays: Long, nStreaks: Long)
  case class StreakUpdate(user_id: Long, max_streak: Long,
                          n_active_days: Long, n_streaks: Long)

  /** Continuous consecutive-day streak tracking (streaming twin of the
    * gated e18 gaps-and-islands op): per user, `mapGroupsWithState`
    * maintains (lastDay, current run, best run, active days, streak
    * count) — O(1) state per key, every micro-batch emits the user's
    * refreshed stats. Day numbers are exact floor-division epoch days
    * (the batch op's arithmetic). Contract: per-user days arrive
    * non-decreasing ACROSS micro-batches (the watermark's delivery
    * order); in-batch disorder is sorted out locally, a day below the
    * high-water mark is dropped exactly as the watermark would drop
    * it. On a bounded in-order stream the final per-user rows equal
    * e18's batch output. */
  def streaks(events: Dataset[Event]): Dataset[StreakUpdate] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[StreakState, StreakUpdate](
        GroupStateTimeout.NoTimeout()) {
        (uid: Long, batch: Iterator[Event], state: GroupState[StreakState]) =>
          val days = batch.map(e => Math.floorDiv(e.ts.getTime, 86400000L))
            .toSeq.distinct.sorted
          var s = state.getOption
            .getOrElse(StreakState(Long.MinValue, 0L, 0L, 0L, 0L))
          days.foreach { d =>
            if (s.lastDay == Long.MinValue)
              s = StreakState(d, 1L, 1L, 1L, 1L)
            else if (d == s.lastDay + 1)
              s = StreakState(d, s.cur + 1, math.max(s.best, s.cur + 1),
                s.nDays + 1, s.nStreaks)
            else if (d > s.lastDay)
              s = StreakState(d, 1L, s.best, s.nDays + 1, s.nStreaks + 1)
            // d <= lastDay: duplicate day or late-beyond-contract — dropped
          }
          state.update(s)
          StreakUpdate(uid, s.best, s.nDays, s.nStreaks)
      }
  }

  case class CadenceState(lastUs: Long, nGaps: Long, sumG: Long,
                          sumG2: String)
  case class CadenceUpdate(user_id: Long, n_gaps: Long, sum_gap_us: Long,
                           sum_gap2: String)

  /** Continuous inter-event cadence stats (streaming twin of the gated
    * e14 bot-detection signal): per user, O(1) state carries
    * (last event time, gap count, Σgap, Σgap²) so mean and the exact
    * v19-identity variance are computable at any moment without
    * replaying history. Σgap² exceeds Long (a month-scale gap squared
    * is ~10²⁵), so it rides as an exact BigInt serialized in the state
    * row — the streaming mirror of the batch op's Decimal(38,0).
    * Same ordering contract as [[streaks]]; on a bounded in-order
    * stream the final sums equal the batch aggregate exactly. */
  def cadence(events: Dataset[Event]): Dataset[CadenceUpdate] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[CadenceState, CadenceUpdate](
        GroupStateTimeout.NoTimeout()) {
        (uid: Long, batch: Iterator[Event], state: GroupState[CadenceState]) =>
          val times = batch.map(e => e.ts.getTime * 1000L).toSeq.sorted
          var s = state.getOption
            .getOrElse(CadenceState(Long.MinValue, 0L, 0L, "0"))
          times.foreach { t =>
            if (s.lastUs == Long.MinValue) s = s.copy(lastUs = t)
            else if (t >= s.lastUs) {
              val g = t - s.lastUs
              s = CadenceState(t, s.nGaps + 1, s.sumG + g,
                (BigInt(s.sumG2) + BigInt(g) * BigInt(g)).toString)
            } // t < lastUs: late-beyond-contract — dropped
          }
          state.update(s)
          CadenceUpdate(uid, s.nGaps, s.sumG, s.sumG2)
      }
  }

  case class TouchState(firstMs: Long, firstId: Long, firstType: String,
                        cents: Long, nBuys: Long)
  case class TouchUpdate(user_id: Long, first_type: String, cents: Long,
                         n_buys: Long)

  /** Continuous first-touch attribution (streaming twin of the gated
    * e21): per user, O(1) state carries the earliest (ts, event_id)
    * touch and the running cents-exact purchase total, so the
    * attribution table is readable at any moment. The first-touch
    * argmin is order-insensitive (a new row only replaces state on a
    * strictly smaller (ts, event_id) key), so unlike [[streaks]] this
    * twin needs NO cross-batch ordering contract — on any bounded
    * stream the final rows equal the batch op's per-user frame. */
  def firstTouch(events: Dataset[Event]): Dataset[TouchUpdate] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[TouchState, TouchUpdate](
        GroupStateTimeout.NoTimeout()) {
        (uid: Long, batch: Iterator[Event], state: GroupState[TouchState]) =>
          var s = state.getOption
            .getOrElse(TouchState(Long.MaxValue, Long.MaxValue, "", 0L, 0L))
          batch.foreach { e =>
            val ms = e.ts.getTime
            if (ms < s.firstMs ||
                (ms == s.firstMs && e.event_id < s.firstId))
              s = s.copy(firstMs = ms, firstId = e.event_id,
                firstType = e.event_type)
            if (e.event_type == "purchase")
              s = s.copy(cents = s.cents + math.round(e.value * 10000),
                nBuys = s.nBuys + 1)
          }
          state.update(s)
          TouchUpdate(uid, s.firstType, s.cents, s.nBuys)
      }
  }

  case class CohortState(weeks: Seq[Long])
  case class CohortUpdate(user_id: Long, cohort_wk: Long,
                          offsets: Seq[Long])

  /** Continuous cohort retention (streaming twin of the gated e6): per
    * user, state carries the DISTINCT set of active epoch weeks, so the
    * (cohort week, week offset) membership is derivable at any moment
    * as (min(weeks), weeks − min). Like [[firstTouch]] this is
    * order-insensitive — a late-arriving EARLIER week re-bases the
    * user's cohort and every offset shifts accordingly, which a
    * running (cohort, offsets) encoding could not do — so no
    * cross-batch ordering contract is needed; on any bounded stream
    * the final rows aggregate to e6's batch matrix exactly. State is
    * O(distinct active weeks per user), calendar-bounded (52/year),
    * not event-bounded. */
  def cohort(events: Dataset[Event]): Dataset[CohortUpdate] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[CohortState, CohortUpdate](
        GroupStateTimeout.NoTimeout()) {
        (uid: Long, batch: Iterator[Event], state: GroupState[CohortState]) =>
          val incoming = batch
            .map(e => Math.floorDiv(e.ts.getTime, 604800000L)).toSet
          val weeks = (state.getOption.map(_.weeks.toSet)
            .getOrElse(Set.empty[Long]) ++ incoming).toSeq.sorted
          state.update(CohortState(weeks))
          val c = weeks.head
          CohortUpdate(uid, c, weeks.map(_ - c))
      }
  }

  /** Tombstone-aware stream-static KNN (streaming twin of the gated
    * v62 — faiss `remove_ids` under continuous serving): the delete-id
    * set anti-joins the static gallery BEFORE the broadcast, so a
    * deleted vector can never surface in any micro-batch. Both static
    * sides are resolved per micro-batch, so a refreshed tombstone
    * frame (e.g. a delta-read of a delete log) takes effect on the
    * next batch without a restart. Same kernel + top-k operators as
    * the batch path — on a bounded stream the result set equals v62's
    * bit-for-bit. */
  def knnStreamTombstone(queries: DataFrame, gallery: DataFrame,
                         tombstones: DataFrame, qidCol: String,
                         vecCol: String, gidCol: String,
                         k: Int): DataFrame = {
    val alive = gallery.join(
      tombstones.select(col(gidCol)).distinct(), Seq(gidCol), "left_anti")
    knnStream(queries, alive, qidCol, vecCol, gidCol, k)
  }

  /** Per-micro-batch REQUEST-DEDUP serving (streaming twin of the
    * gated v75): each arriving batch of (request_id, embedding)
    * requests is collapsed to one representative per md5 vector
    * digest, the kernel scores only representatives against the
    * static gallery, and a digest-keyed O(batch·k) join fans results
    * back to every request id. Scoring is deterministic and the dedup
    * is BATCH-SCOPED, so ANY partitioning of requests across
    * micro-batches yields the identical per-request rows — two copies
    * of a query landing in different batches each pay one
    * representative scan, same answer (the transparency property v75
    * gates in batch, through this function). Each representative is
    * keyed by its digest's lowest request id for the blocked exact
    * scan, so a digest whose requests all lack an id gets no rows.
    * Stateless: no watermark state to size. */
  def dedupServeBatch(requests: DataFrame, gallery: DataFrame,
                      k: Int = 5,
                      scale: Int = graft.functions.VectorFunctions.DefaultScale): DataFrame = {
    val batch = requests
      .select(col("request_id").cast("long").as("query_id"),
        quantize(col("embedding"), scale).as("qv"))
      .withColumn("qkey", md5(concat_ws(",", col("qv"))))
    val reps = batch.groupBy("qkey")
      .agg(min(col("query_id")).as("rep_id"), first(col("qv")).as("qv"))
    val g = gallery.select(col("vec_id"),
      quantize(col("embedding"), scale).as("qv"))
    val hits = KnnJoin.knnL2Pre(g, reps, "vec_id", "qv", "rep_id", k, scale)
      .withColumnRenamed("query_id", "rep_id")
    batch.select("query_id", "qkey")
      .join(reps.select("qkey", "rep_id"), "qkey")
      .join(hits, "rep_id")
      .select(col("query_id"), col("rnk"), col("neighbor_id"), col("dist"))
  }

  /** Per-micro-batch INCREMENTAL GRAPH MAINTENANCE (streaming twin of
    * the gated v80): each arriving micro-batch of (vec_id, embedding)
    * vectors is LSH-bucketed with the shared seed-fixed planes and
    * merged into the persisted base edge list — the batch pays only
    * its own bucket-blocked edges against base ∪ batch plus the
    * localized repair of same-bucket base nodes (their stored top-k
    * merged with batch mates and re-ranked). EXACT by the v80
    * argument: dropping non-top-k base mates cannot change the top-k
    * of the union, so for a single batch the merged graph equals the
    * graph rebuilt on the union corpus (the parity spec proves it
    * against the gated v80). Stateless per batch; the static sides
    * (base vectors, stored edges) never re-shuffle — this is how a
    * graph index absorbs a continuous ingest without an O(N·k)
    * rebuild per batch.
    *
    * CONTRACT — INSERT-ONLY, SINGLE-BATCH: batch vec_ids must be
    * DISJOINT from base's. A batch that re-ingests an existing id is
    * NOT an update — the node's stored edges (built from its old
    * vector) survive and the id-inequality joins skip rescoring it,
    * so the merged graph would be wrong; true updates need a
    * delete-then-reinsert compaction of base/storedEdges (the v62
    * tombstone + v71 compaction path). And exactness is PER BATCH:
    * between micro-batches the caller must fold the returned edges
    * back into `storedEdges` and the batch vectors into `base`
    * (foreachBatch owns that state hand-off — the exactness argument
    * needs the stored top-k of the CURRENT corpus, which this
    * function reads but does not write). */
  def graphUpsertBatch(batch: DataFrame, base: DataFrame,
                       storedEdges: DataFrame, k: Int = 3,
                       scale: Int = graft.functions.VectorFunctions.DefaultScale): DataFrame = {
    import graft.operators.GraphIndex.{bucketPairs, bucketed}
    val b = bucketed(batch, scale)
    val bs = bucketed(base, scale)
    graft.operators.TopK.perGroup(
      storedEdges.unionByName(bucketPairs(bs, b))
        .unionByName(bucketPairs(b, bs.unionByName(b))),
      "src_id", "dst_id", "d2", k, ascending = true)
      .select(col("src_id"), col("rnk"), col("dst_id"),
        distFromIntSq(col("d2"), scale).as("dist"))
  }

  /** Per-micro-batch BEAM graph serving (streaming twin of the gated
    * v79): each arriving query batch walks the PERSISTED edge store
    * with the ef-beam ([[graft.operators.GraphIndex.walk]]) — frontier
    * ∪ its neighbors, keep the ef best by (d2, id) — from the store's
    * entry node. Run from `writeStream.foreachBatch`: the iterative
    * walk needs steps × (join + rank), more than one continuous query
    * supports (the v63/v75/v76 precedent). Statics persist across
    * batches: `vecs` (id, qv) the quantized vector store and `edges`
    * (src_id, dst_id) the persisted graph — neither re-shuffles per
    * batch; each step broadcasts the O(batch·ef) frontier against the
    * streaming edge scan, exactly v79's serving shape. Every query
    * walks independently, so ANY partitioning of queries across
    * micro-batches unions to the gated v79 rows (the parity spec
    * proves it). Stateless: no watermark state to size. */
  def beamServeBatch(queryBatch: DataFrame, vecs: DataFrame,
                     edges: DataFrame, entryId: Long, ef: Int = 4,
                     scale: Int = graft.functions.VectorFunctions.DefaultScale): DataFrame = {
    val q = serveQueries(queryBatch, scale)
    beamRows(graft.operators.GraphIndex.walk(entryAt(q, entryId), q,
      longIds(vecs), edges, ef), scale)
  }

  /** (query_id, embedding) → (query_id, query_v), the walk's query
    * frame. */
  private def serveQueries(queryBatch: DataFrame, scale: Int): DataFrame =
    queryBatch.select(col("query_id").cast("long").as("query_id"),
      quantize(col("embedding"), scale).as("query_v"))

  /** Every query starts at `entryId`: (query_id, nid). */
  private def entryAt(q: DataFrame, entryId: Long): DataFrame =
    q.select(col("query_id"), lit(entryId).as("nid"))

  private def longIds(vecs: DataFrame): DataFrame =
    vecs.select(col("id").cast("long").as("id"), col("qv"))

  private def beamRows(ranked: DataFrame, scale: Int): DataFrame =
    ranked.select(col("query_id"), col("rnk"), col("nid").as("node_id"),
      distFromIntSq(col("d2"), scale).as("dist"))

  /** Per-micro-batch TOMBSTONE-AWARE beam serving (streaming twin of
    * the gated v108) — the serve side of the graph family's continuous
    * maintenance loop: [[graphUpsertBatch]] folds arriving vectors
    * into the edge state, [[tombstoneBatch]] folds arriving deletes
    * into the delete set, and each query micro-batch walks the
    * CURRENT (edges, tombstones) state with v108's exact delete
    * semantics — dead nodes are excluded from scored frontiers and
    * results but their edges stay traversable-around (one-hop bypass),
    * so the walk neither surfaces nor strands on tombstones. The
    * caller passes `entryId` = the min ALIVE id of the current state
    * (the entry is state, recomputed when a delete kills it — v108's
    * alive-entry rule on the streaming surface). Per step: v108's plan
    * shape verbatim ([[graft.operators.GraphIndex.expand]] with the
    * delete set), scoring against the alive vector frame by id. The
    * alive frame is one anti-join per query batch, checkpointed and
    * amortized across steps. Every query walks independently → ANY
    * micro-batch partitioning unions to the gated v108 rows (the
    * lifecycle spec proves it against interleaved upserts+deletes). */
  def tombBeamServeBatch(queryBatch: DataFrame, vecs: DataFrame,
                         edges: DataFrame, tombs: DataFrame,
                         entryId: Long, ef: Int = 4,
                         scale: Int = graft.functions.VectorFunctions.DefaultScale): DataFrame = {
    val q = serveQueries(queryBatch, scale)
    val t = tombs.select(col("dead_id").cast("long").as("dead_id"))
    val v = longIds(vecs)
    val aliveV = v.join(t, v("id") === t("dead_id"), "left_anti")
      .localCheckpoint(false)
    beamRows(graft.operators.GraphIndex.walk(entryAt(q, entryId), q,
      aliveV, edges, ef, Some(t)), scale)
  }

  /** Per-micro-batch 2-LAYER HNSW-ENTRY beam serving (streaming twin
    * of the gated v88): each arriving query batch first descends the
    * persisted COARSE layer-1 graph with v57's greedy width-1 walk
    * (entry = `coarseEntryId`, the subset's min id), and the per-query
    * layer-1 winner seeds the layer-0 ef-beam — the composition that
    * keeps step counts O(log N) at 100 TB (a flat entry pays steps or
    * recall crossing the graph from an arbitrary corner). Run from
    * `writeStream.foreachBatch` (the beamServeBatch precedent: the
    * two-phase iterative walk is more than one continuous query
    * supports). Statics persist across batches: `vecs`/`edges` the
    * layer-0 stores and `subsetVecs`/`coarseEdges` the layer-1 stores
    * — none re-shuffles per batch; both phases broadcast only
    * O(batch)-row frontiers against the streaming edge scans. The
    * serve is v88's [[graft.operators.GraphIndex.layeredWalk]], so the
    * twins cannot drift. Every query walks independently → ANY
    * micro-batch partitioning unions to the gated v88 rows (the
    * parity spec proves it). Stateless: no watermark state to size. */
  def hnswServeBatch(queryBatch: DataFrame, vecs: DataFrame,
                     edges: DataFrame, subsetVecs: DataFrame,
                     coarseEdges: DataFrame, coarseEntryId: Long,
                     ef: Int = 4,
                     scale: Int = graft.functions.VectorFunctions.DefaultScale): DataFrame = {
    val q = serveQueries(queryBatch, scale)
    beamRows(graft.operators.GraphIndex.layeredWalk(
      entryAt(q, coarseEntryId), q,
      Seq((longIds(subsetVecs), coarseEdges), (longIds(vecs), edges)), ef),
      scale)
  }

  /** Per-micro-batch PQ-ADC serving (streaming twin of the persisted
    * compressed-index serve path — v11's kernel, v87's lifecycle):
    * each arriving query batch scores the PERSISTED code table through
    * the broadcast ADC-table kernel. Statics persist across batches:
    * the code table (8 bytes/row — never re-encoded) and the collected
    * codebook (O(m·ksub·sub), the centroid contract); per batch only
    * the O(batch) distance tables are computed and broadcast. Run from
    * `writeStream.foreachBatch` — the per-batch driver routing is
    * searchAdc's batch-KNN contract (the v63/v75 precedent). Every
    * query scores independently, so ANY partitioning of requests
    * across micro-batches unions to the batch-gated rows (the parity
    * spec proves it against v11). */
  def adcServeBatch(queryBatch: DataFrame, codes: DataFrame,
                    book: Seq[graft.operators.PqIndex.Codebook],
                    dim: Int = 64, m: Int = 8, k: Int = 5,
                    scale: Int = graft.functions.VectorFunctions.DefaultScale): DataFrame = {
    val q = queryBatch
      .select(col("query_id").cast("long").as("qid"),
        transform(quantize(col("embedding"), scale),
          x => x.cast("double")).as("qemb"))
    graft.operators.PqIndex.searchAdc(codes, q, "qid", "qemb",
        dim, m, book, k)
      .select(col("query_id"), col("rnk"), col("neighbor_id"),
        (col("dist") / lit(scale.toDouble)).as("dist"))
  }

  /** Per-micro-batch incremental code-store ingest — v99's contract
    * on the streaming surface (faiss `add()` as a continuous job):
    * the arriving vector batch anti-joins the codes ALREADY stored
    * (re-delivered ids drop — d9's overlap semantics), only genuinely
    * new ids pay the map-only encode against the FIXED persisted book,
    * and the returned new-code rows are what the caller appends to the
    * store. Encode is per-row under a fixed book, so any interleaving
    * of batches accumulates to exactly the full-rebuild code table
    * (the v99 spec's claim, proven per-batch here). */
  def ingestCodesBatch(vecBatch: DataFrame, seenCodes: DataFrame,
                       book: Seq[graft.operators.PqIndex.Codebook],
                       dim: Int = 64, m: Int = 8,
                       scale: Int = graft.functions.VectorFunctions.DefaultScale)
      : DataFrame = {
    val g = vecBatch.select(col("vec_id").cast("long").as("id"),
      transform(quantize(col("embedding"), scale),
        x => x.cast("double")).as("qemb"))
    val newRows = g.join(seenCodes.hint("merge"),
      g("id") === seenCodes("id"), "left_anti")
    graft.operators.PqIndex.encode(newRows, "id", "qemb", dim, m, book)
  }

  /** Per-micro-batch tombstone ingest — the DELETE side of v106's
    * lifecycle as a continuous job: new dead ids anti-join the
    * already-recorded set, so re-delivered deletes are idempotent
    * (at-least-once delivery safe — d9's overlap semantics applied to
    * the delete stream). Returns only the genuinely new tombstones;
    * the caller appends them to its accumulated set. */
  def tombstoneBatch(deleteBatch: DataFrame, seenTombs: DataFrame)
      : DataFrame =
    deleteBatch.select(col("dead_id").cast("long").as("dead_id"))
      .distinct()
      .join(seenTombs, Seq("dead_id"), "left_anti")

  /** v106's maintained ADC serve on the streaming surface — the alive
    * view (accumulated codes MINUS the accumulated tombstone set)
    * served through the batch ADC kernel. Composed with
    * [[ingestCodesBatch]] (the ADD side) and [[tombstoneBatch]] (the
    * DELETE side), this is the CONTINUOUS twin of the batch
    * maintenance lifecycle: any interleaving of ingest and delete
    * micro-batches serves exactly what the batch chain serves on the
    * same alive corpus (StreamingSpec proves the equality). The
    * tombstone side is broadcast under v106's documented bound
    * argument — compacted deployments keep the live set under v71's
    * threshold; an uncompacted corpus-proportional set must compact
    * first or drop the hint. */
  def maintainedAdcServeBatch(queryBatch: DataFrame, codes: DataFrame,
                              tombs: DataFrame,
                              book: Seq[graft.operators.PqIndex.Codebook],
                              dim: Int = 64, m: Int = 8, k: Int = 5,
                              scale: Int = graft.functions.VectorFunctions.DefaultScale)
      : DataFrame = {
    val alive = codes.join(
      broadcast(tombs.select(col("dead_id").cast("long").as("dead_id"))),
      codes("id") === col("dead_id"), "left_anti")
    adcServeBatch(queryBatch, alive, book, dim, m, k, scale)
  }

  /** Per-micro-batch hybrid vector+keyword serving (streaming twin of
    * the gated v63): run from `writeStream.foreachBatch` — the
    * documented Structured Streaming shape for retrieval that needs
    * TWO independent top-k rankings plus a fusion join (more stateful
    * operators than a single continuous query supports). The static
    * indexes persist across batches: `gallery` (id, embedding) for the
    * vector side and `inv` (sg, doc_id) — the DF-CAPPED inverted index
    * (the caller applies v63's stop-shingle guard, so a hot shingle's
    * postings never reach the join). Each arriving query batch is
    * broadcast-sized by the batch-KNN contract; every window below is
    * per-query (≤ k+1 rows). Arithmetic is v63's exactly (rank-after-
    * self-filter, RRF = Σ 1/(60+rank), ties to lowest doc id), so a
    * bounded stream's union of batch outputs equals the batch v63
    * rows for the same queries. */
  def hybridRrfBatch(queryBatch: DataFrame, gallery: DataFrame,
                     inv: DataFrame, k: Int = 5): DataFrame = {
    import graft.functions.TextFunctions.shingles
    import org.apache.spark.sql.expressions.Window
    val qsh = queryBatch.select(col("query_id"),
      explode(shingles(col("text"), 3)).as("sg"))
    val overlap = inv.join(broadcast(qsh), Seq("sg"))
      .filter(col("doc_id") =!= col("query_id"))
      .groupBy("query_id", "doc_id")
      .agg(count(lit(1)).cast("double").as("n_shared"))
    val textTop = graft.operators.TopK.perGroup(overlap, "query_id",
        "doc_id", "n_shared", k, ascending = false)
      .select(col("query_id"), col("doc_id"),
        col("rnk").cast("long").as("tr"))
    val vecTop = graft.operators.KnnJoin.knnL2(gallery,
        queryBatch.select(col("query_id").as("vec_id"), col("embedding")),
        "vec_id", "embedding", "vec_id", k = k + 1)
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("vr", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("rnk"))).cast("long"))
      .filter(col("vr") <= k)
      .select(col("query_id"), col("neighbor_id").as("doc_id"), col("vr"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("rrf").desc, col("doc_id"))
    vecTop.join(textTop, Seq("query_id", "doc_id"), "full")
      .select(col("query_id"), col("doc_id"),
        (coalesce(lit(1L) / (lit(60L) + col("vr")), lit(0.0))
          + coalesce(lit(1L) / (lit(60L) + col("tr")), lit(0.0)))
          .as("rrf"),
        coalesce(col("vr"), lit(0L)).as("vec_rank"),
        coalesce(col("tr"), lit(0L)).as("text_rank"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select("query_id", "rnk", "doc_id", "rrf", "vec_rank", "text_rank")
  }

  /** Streaming twin of e32/t30's deterministic-HLL register
    * maintenance: the per-(key, bucket) MAX-rho table kept
    * incrementally over an unbounded stream. `max` is
    * duplicate-insensitive and order-free, so the registers are
    * correct under micro-batch replays without any dedup state, and
    * the emitted table merges with any other register table (another
    * stream, a batch backfill, yesterday's persisted snapshot) by one
    * further bucket-keyed max — the mergeability contract e32's
    * day=−1 row gates in batch. State is O(keys · 4096) registers
    * regardless of stream volume; the identical expressions
    * (md5 → 3-hex-char bucket → string-derived rho) make a streamed
    * register bit-equal to its batch twin. */
  def hllRegisters(stream: DataFrame, keyCol: String,
                   valueCol: String): DataFrame = {
    val hx = stream.select(col(keyCol),
      md5(col(valueCol).cast("string")).as("hx"))
    hx.select(col(keyCol),
        graft.queries.Queries.hllBucket(col("hx")).as("bucket"),
        graft.queries.Queries.hllRho(col("hx")).as("rho"))
      .groupBy(col(keyCol), col("bucket")).agg(max("rho").as("m"))
  }

  /** Continuous IVF serving (streaming twin of the gated v66): an
    * unbounded query stream probing a PERSISTED centroid-partitioned
    * index (the faiss_utils.py:11-17 persist-once/serve-many contract
    * under Structured Streaming). Probe routing is MAP-ONLY — the
    * broadcast-sized centroid table folds in as literals (v65's route
    * shape), so the stream pays no shuffle before the index join; the
    * index side is a STREAM-STATIC equi join on centroid_id (only
    * probed lists' rows match — at scale, with the static side
    * partitioned by centroid_id, a batch touches nprobe/nlist of the
    * data); the per-query top-k is the SAME bounded native aggregate
    * the batch path runs, so results match `IvfIndex.search`
    * bit-for-bit. State per query is the k-element heap. */
  def ivfServeStream(queries: DataFrame, index: DataFrame,
                     centroids: Array[(Long, Array[Long])],
                     qidCol: String, vecCol: String,
                     k: Int, nprobe: Int,
                     scale: Int = graft.functions.VectorFunctions.DefaultScale): DataFrame = {
    require(centroids.nonEmpty, "ivfServeStream: empty centroid set")
    val cands = centroids.toIndexedSeq.map { case (cid, cv) =>
      struct(intL2Sq(col("qv"), array(cv.map(lit).toIndexedSeq: _*))
        .as("d2"), lit(cid).as("cid"))
    }
    val probes = queries
      .select(col(qidCol).cast("long").as("query_id"),
        quantize(col(vecCol), scale).as("qv"))
      .withColumn("pc", explode(transform(
        slice(array_sort(array(cands: _*)), 1, nprobe),
        s => s.getField("cid"))))
    val g = index.select(
      col("centroid_id").cast("long").as("pc"),
      col("id").cast("long").as("neighbor_id"),
      quantize(col("vec"), scale).as("nqv"))
    KnnJoin.rankPairs(
      probes.join(g, Seq("pc")).withColumnRenamed("nqv", "gv"), k, scale)
  }

  /** Continuous SEGMENT-MERGE serving (streaming twin of the gated
    * v77 — faiss `merge_from` under Structured Streaming): the query
    * stream probes the UNION of persisted per-snapshot index segments.
    * The union precedes the stream-static centroid_id join, so probe
    * pruning holds per segment (each segment is centroid-partitioned
    * and only probed lists' rows match) and the result is bit-equal to
    * [[ivfServeStream]] over the compacted index — a rolling build can
    * add a segment between micro-batches without a restart, and
    * compaction is invisible to serving.
    *
    * CONTRACT — DISJOINT SEGMENTS: each gallery id must live in
    * exactly ONE segment (the snapshot/parity splits that produce
    * segments guarantee this). An id persisted in two segments — e.g.
    * both the pre- and post-compaction snapshot registered at once —
    * would be scored twice in the union and could duplicate rows in
    * the top-k; deduping the union here would re-shuffle the whole
    * index per batch, exactly the cost segment serving exists to
    * avoid, so the swap protocol (retire the old segment in the same
    * step that registers its replacement) owns uniqueness. */
  def ivfServeSegments(queries: DataFrame, segments: Seq[DataFrame],
                       centroids: Array[(Long, Array[Long])],
                       qidCol: String, vecCol: String,
                       k: Int, nprobe: Int,
                       scale: Int = graft.functions.VectorFunctions.DefaultScale): DataFrame = {
    require(segments.nonEmpty, "ivfServeSegments: no index segments")
    ivfServeStream(queries, segments.reduce(_ unionByName _), centroids,
      qidCol, vecCol, k, nprobe, scale)
  }

  /** Per-micro-batch SELECTIVITY-ROUTED filtered KNN (streaming twin
    * of the gated v76): run from `writeStream.foreachBatch` — the two
    * independent branch rankings plus the union need more stateful
    * operators than one continuous query supports (the v63/v75
    * foreachBatch precedent). Statics persist across batches: `g` the
    * labeled ASSIGNED gallery (neighbor_id, glab, gv, centroid_id —
    * the assignment is part of the persisted index, not per-batch
    * work), `route` the O(classes) (lab, route) decision table, and
    * `centroids` the literal probe table. Routing, both branches, and
    * the bounded top-k are v76's arithmetic exactly, and every request
    * routes independently, so ANY partitioning of queries across
    * micro-batches unions to the gated v76 rows. Stateless: no
    * watermark state to size. */
  def routeServeBatch(queryBatch: DataFrame, g: DataFrame,
                      route: DataFrame,
                      centroids: Array[(Long, Array[Long])],
                      k: Int = 5, nprobe: Int = 2,
                      scale: Int = graft.functions.VectorFunctions.DefaultScale): DataFrame = {
    val qr = queryBatch
      .select(col("vec_id").cast("long").as("query_id"),
        col("label").cast("long").as("qlab"),
        quantize(col("embedding"), scale).as("qv"))
      .join(broadcast(route), col("qlab") === col("lab")).drop("lab")
    // exact branch: same-class brute force via broadcast queries
    val qe = qr.filter(col("route") === "exact")
    val hitsE = KnnJoin.rankPairs(
        g.join(broadcast(qe), col("glab") === col("qlab")), k, scale)
      .withColumn("route", lit("exact"))
    // ivf branch: literal-folded probe routing (the ivfServeStream
    // shape — same (d2, cid) order as v76's centroid KNN) + the class
    // equality folded into the index join
    val qi = qr.filter(col("route") === "ivf")
    val cands = centroids.toIndexedSeq.map { case (cid, cv) =>
      struct(intL2Sq(col("qv"), array(cv.map(lit).toIndexedSeq: _*))
        .as("d2"), lit(cid).as("cid"))
    }
    val probeQ = qi.withColumn("pcid", explode(transform(
      slice(array_sort(array(cands: _*)), 1, nprobe),
      s => s.getField("cid"))))
    val hitsI = KnnJoin.rankPairs(g.join(broadcast(probeQ),
        g("centroid_id") === probeQ("pcid") && g("glab") === probeQ("qlab")),
        k, scale)
      .withColumn("route", lit("ivf"))
    hitsE.unionByName(hitsI)
  }

  /** Continuous asset near-dup admission (streaming twin of the gated
    * m14): arriving DECODED assets — the stream enters AFTER m2's
    * decode boundary, where a real image embedding plugs in — are
    * feature-quantized and grid-celled map-only, then joined
    * STREAM-STATIC against the persisted guard-filtered cell index of
    * the base corpus; only same-cell candidates pay the exact integer
    * L2 verify. Each asset maps to exactly ONE cell, so a pair can
    * surface only once and the whole query is STATELESS (map work +
    * one stream-static equi join — no watermark state to size), the
    * strongest possible shape for an unbounded 100 TB/day ingest.
    * Same arithmetic as m14, so on a bounded stream the admitted pair
    * set equals the batch pairs for the same split. `baseCells` is
    * (base_id, qf, bucket) with the > maxBucket cells already dropped
    * (the m14 guard — build it once with [[cellIndex]] and persist). */
  def assetNearDupAdmission(featStream: DataFrame, baseCells: DataFrame,
                            radiusSq: Long = 250000L,
                            grid: Long = 1000L): DataFrame = {
    val q = featStream
      .select(col("asset_id").cast("long").as("batch_id"),
        quantize(col("features"), 100).as("qfb"))
      .withColumn("bucket", concat_ws(":", transform(col("qfb"),
        x => floor(x / lit(grid)).cast("long").cast("string"))))
    q.join(baseCells, Seq("bucket"))
      .select(col("batch_id"), col("base_id"),
        intL2Sq(col("qfb"), col("qf")).as("d2"))
      .filter(col("batch_id") =!= col("base_id") &&
        col("d2") <= radiusSq)
  }

  /** The guard-filtered (base_id, qf, bucket) cell index over a static
    * decoded-asset corpus — m14's blocking front end, shared by the
    * batch operator and [[assetNearDupAdmission]] so the two cannot
    * drift. Cells holding more than `maxBucket` assets generate no
    * candidates (the mega-bucket guard, by operator semantics). */
  def cellIndex(feats: DataFrame, maxBucket: Long = 64L,
                grid: Long = 1000L): DataFrame = {
    val b = feats
      .select(col("asset_id").cast("long").as("base_id"),
        quantize(col("features"), 100).as("qf"))
      .withColumn("bucket", concat_ws(":", transform(col("qf"),
        x => floor(x / lit(grid)).cast("long").cast("string"))))
    val sizes = b.groupBy("bucket").agg(count(lit(1)).as("bn"))
    b.join(sizes.filter(col("bn") <= maxBucket), "bucket")
      .select("base_id", "qf", "bucket")
  }

  /** Tumbling 1-hour windowed counts per event type with a 30-min
    * watermark (streaming twin of e1). */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))

  /** State for [[sessionPaths]]: the last two events of one user —
    * exact microsecond times (the batch e33 arithmetic) plus how many
    * slots are filled. Bounded by CONSTRUCTION: two events per active
    * user, evicted on event-time timeout. */
  case class PathState(t1Us: Long, p1: String, t2Us: Long, p2: String,
                       filled: Int)
  case class PathHit(user_id: Long, p1: String, p2: String, p3: String,
                     start_us: Long)

  /** Continuous 3-step session-path mining — the streaming twin of the
    * gated e33 (both hop gaps ≤ `gapSeconds`): each arriving event
    * emits the (p1, p2, p3) triple it completes, from per-user state
    * that is just the LAST TWO events. Times are exact microseconds
    * (java.sql.Timestamp carries them; ms-truncation would disagree
    * with the batch key on sub-ms gaps), so on a bounded in-order
    * stream the emitted triples aggregate to e33's rows exactly —
    * the parity spec proves it against the gated batch operator.
    * At 100 TB/day: state is two (ts, type) pairs per ACTIVE user
    * (idle users evicted when the watermark passes their last event +
    * gap), and the rollup e33 publishes is a downstream windowed
    * aggregate over these hits. */
  def sessionPaths(events: Dataset[Event], gapSeconds: Long = 1800,
                   watermarkDelay: String = "30 minutes")
      : Dataset[PathHit] = {
    import events.sparkSession.implicits._
    val gapUs = gapSeconds * 1000000L
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[PathState, PathHit](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, batch: Iterator[Event], state: GroupState[PathState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            // order by EXACT microseconds (the batch e33 sort key) —
            // an ms-precision key could swap same-ms events
            def us(e: Event): Long =
              (e.ts.getTime / 1000) * 1000000L + e.ts.getNanos / 1000
            val sorted = batch.toSeq.sortBy(e => (us(e), e.event_id))
            var s = state.getOption.getOrElse(PathState(0L, "", 0L, "", 0))
            val hits = Seq.newBuilder[PathHit]
            sorted.foreach { e =>
              val tUs = us(e)
              if (s.filled >= 2 && s.t2Us - s.t1Us <= gapUs &&
                  tUs - s.t2Us <= gapUs)
                hits += PathHit(userId, s.p1, s.p2, e.event_type, s.t1Us)
              s = PathState(s.t2Us, s.p2, tUs, e.event_type,
                math.min(s.filled + 1, 2))
            }
            state.update(s)
            state.setTimeoutTimestamp(s.t2Us / 1000 + gapSeconds * 1000)
            hits.result().iterator
          }
      }
  }

  /** Inactivity-gap sessionization (streaming twin of e2): a new session
    * starts when a user is idle > gapSeconds. Emits one row per closed
    * session. The open session flushes on an EVENT-TIME timeout — it
    * closes when the watermark passes lastTs + gap, which is
    * deterministic replayable stream semantics (a processing-time
    * timeout would tie session boundaries to wall-clock scheduling). */
  def sessionize(events: Dataset[Event], gapSeconds: Long = 1800,
                 watermarkDelay: String = "30 minutes")
      : Dataset[SessionUpdate] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionUpdate](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, batch: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(SessionUpdate(userId, s.startTs, s.events))
          } else {
            val sorted = batch.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var s = state.getOption.getOrElse(SessionState(0L, Long.MinValue, 0L))
            val closed = Seq.newBuilder[SessionUpdate]
            sorted.foreach { e =>
              val t = e.ts.getTime
              if (s.lastTs == Long.MinValue) {
                s = SessionState(t, t, 1L)
              } else if (t - s.lastTs > gapSeconds * 1000) {
                closed += SessionUpdate(userId, s.startTs, s.events)
                s = SessionState(t, t, 1L)
              } else {
                s = SessionState(s.startTs, t, s.events + 1)
              }
            }
            state.update(s)
            // close the open session once event time passes the gap
            state.setTimeoutTimestamp(s.lastTs + gapSeconds * 1000)
            closed.result().iterator
          }
      }
  }
}
