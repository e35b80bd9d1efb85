package graft.streaming

import graft.{Commit, IndexStore, Stage}
import graft.Stage.StageOps

import graft.dml.GraphDml
import graft.meta.EdgeDef
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.{DoubleType, LongType, TimestampType}
import org.apache.spark.sql.Row

/** one gap-closed user session (event-time bounds, count, value sum) */
final case class UserSession(user_id: Long, start: java.sql.Timestamp,
    end: java.sql.Timestamp, events: Long, total_value: Double)

/** running per-user session accumulator (the custom state) */
final case class SessionAcc(startMs: Long, endMs: Long,
    events: Long, totalValue: Double)

/** funnel chain state: stage times reached so far, NEWEST FIRST
  * (`times.length` = stage index reached)
  */
final case class FunnelAcc(times: List[Long])

/** one funnel advancement: the user reached `stage` at event time
  * `ts` (emitted append-only as the chain grows)
  */
final case class FunnelStep(user_id: Long, stage: Int,
    ts: java.sql.Timestamp)

/** Structured Streaming ingestion — the beyond-reference extension of
  * SURVEY §2.10/§7.5: the reference has no streaming surface, but the
  * driver's `events` table motivates a thin `readStream → transform →
  * sink` layer for continuously arriving edges.
  *
  *  - [[edgeUpserts]]: micro-batch upserts via `foreachBatch`, reusing
  *    the exact same [[GraphDml.insertEdges]] rewrite the batch DML path
  *    uses — one code path for batch and streaming mutation;
  *  - [[windowedEventCounts]]: watermarked sliding-window aggregation,
  *    the standard Structured Streaming shape (state bounded by the
  *    watermark; at scale the shuffle is keyed by (window, user)).
  */
object EdgeStream {

  /** events(user_id, event_id, ...) → per-batch append of
    * `did` edges onto `userTable` (src=user gid, sink=event gid).
    * The caller owns checkpointing/trigger config on the returned writer.
    *
    * When `sink` accessors are given, each batch also applies the
    * sink-side mirror (reversed adjacency + InDegree) — the same
    * two-sided consistency the batch DML path maintains. For
    * self-referencing edges pass the SAME accessors for both sides;
    * the updates fold sequentially like the bulk-load path.
    *
    * DELIVERY CONTRACT: effectively-once when `ledgerDir` is given. The
    * mutation is a whole-table swap through the caller's `setTable`, so
    * a replayed micro-batch would re-apply and duplicate its edges; a
    * [[BatchLedger]] marker beside the table (committed after the swap
    * sequence, checked before it) makes a batch whose PREVIOUS attempt
    * committed skip entirely — the `edgeUpserts` face of the replay
    * protection [[curatedDocs]]/[[nearDedupedDocs]] get from their
    * batchId-keyed [[graft.IndexStore]] appends. The
    * residual window is a crash BETWEEN the swap and the marker write
    * (the swap rewrites the table, so there is no per-batch file
    * provenance to strip on replay); closing it needs a transactional
    * table format underneath (the Delta/Iceberg analogue the catalog
    * docs name), where the batchId rides the commit
    * (`txnAppId`/`txnVersion`). Without `ledgerDir`: at-least-once.
    */
  def edgeUpserts(
      events: DataFrame,
      edge: EdgeDef,
      getTable: () => DataFrame,
      setTable: DataFrame => Unit,
      toPairs: DataFrame => DataFrame,
      getSink: Option[() => DataFrame] = None,
      setSink: Option[DataFrame => Unit] = None,
      ledgerDir: Option[String] = None): DataStreamWriter[Row] =
    events.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        upsertBatch(batch, batchId, edge, getTable, setTable, toPairs,
          getSink, setSink, ledgerDir)
      }

  /** one `edgeUpserts` micro-batch (extracted so the replay matrix can
    * drive it with a pinned batchId) */
  private[streaming] def upsertBatch(
      batch: DataFrame, batchId: Long, edge: EdgeDef,
      getTable: () => DataFrame, setTable: DataFrame => Unit,
      toPairs: DataFrame => DataFrame,
      getSink: Option[() => DataFrame],
      setSink: Option[DataFrame => Unit],
      ledgerDir: Option[String]): Unit = {
    val ledger = ledgerDir.map(new BatchLedger(batch.sparkSession, _))
    if (ledger.exists(_.applied(batchId))) return
    val pairs = toPairs(batch).stageBoundary
    if (!pairs.isEmpty) {
      val pre = getTable()
      // forward edgeIds assigned by this batch's insert, numbered
      // against the pre-insert table — the sink mirror's srcEdgeId
      val numbered = GraphDml.numberNewEdges(pre, edge, pairs)
        .stageBoundary
      setTable(GraphDml.insertEdges(pre, edge, pairs)
        .stageBoundary)
      for (g <- getSink; s <- setSink) {
        s(GraphDml.insertEdgesSinkSide(g(), edge, numbered)
          .stageBoundary)
      }
    }
    ledger.foreach(_.commit(batchId))
  }

  /** watermarked tumbling-window counts per user over an event stream */
  def windowedEventCounts(events: DataFrame, tsCol: String,
      watermark: String, windowLen: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen), col("user_id"))
      .agg(count(lit(1)).as("events"),
        sum(col("value")).as("total_value"))

  /** Streaming exact dedup over a document stream: drop rows whose
    * content fingerprint was already seen within the watermark horizon —
    * the streaming face of [[graft.ext.Dedup.exactGroups]]. State is the
    * fingerprint set, bounded by the event-time watermark
    * (`dropDuplicatesWithinWatermark`), so it does not grow without
    * bound on an infinite stream; at scale the state store shuffles on
    * the 16-byte fingerprint.
    */
  def dedupedDocs(docs: DataFrame, textCol: String, tsCol: String,
      watermark: String): DataFrame =
    docs
      .withWatermark(tsCol, watermark)
      .withColumn("__fp", graft.ext.TextFunctions.fingerprint(col(textCol)))
      .dropDuplicatesWithinWatermark("__fp")
      .drop("__fp")

  /** Streaming near-dedup against the corpus history: each micro-batch
    * probes the persisted LSH band index ([[graft.ext.Dedup.writeBandIndex]]'s
    * layout at `indexDir`), keeps only documents with no verified
    * near-duplicate in history OR earlier in the batch (smaller id
    * wins), writes survivors via `sink`, and appends the survivors'
    * band rows to the index — so the next batch dedups against
    * everything kept so far. The dedup "state" is the on-disk index,
    * not executor memory: it survives restarts and is the same artifact
    * the batch incremental path uses.
    *
    * REPLAY-SAFE: foreachBatch is at-least-once, so each batch's band
    * rows are one [[graft.IndexStore]] append keyed on its batchId — an
    * already-visible batchId skips, and a replayed one probes only
    * committed history (its crashed attempt's files are never visible)
    * and reproduces the original outcome. `sink` receives the batchId
    * and must be idempotent per batch (e.g. overwrite
    * `dir/batch=<id>`).
    *
    * `corpusDir` must hold the kept documents' (id, text) parquet —
    * candidate verification re-shingles only candidate docs from it;
    * `sink` is responsible for appending survivors there.
    */
  def nearDedupedDocs(docs: DataFrame, textCol: String, idCol: String,
      corpusDir: String, indexDir: String,
      n: Int = 3, minJaccard: Double = 0.9,
      numPerms: Int = 64, bands: Int = 16)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    docs.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch0: DataFrame, batchId: Long) =>
        nearDedupBatch(batch0, batchId, textCol, idCol, corpusDir,
          indexDir, n, minJaccard, numPerms, bands, sink)
      }

  /** one [[nearDedupedDocs]] micro-batch, exposed so a replay (same
    * batchId) is directly testable — idempotent via the keyed append
    */
  private[streaming] def nearDedupBatch(batch0: DataFrame, batchId: Long,
      textCol: String, idCol: String, corpusDir: String, indexDir: String,
      n: Int, minJaccard: Double, numPerms: Int, bands: Int,
      sink: (DataFrame, Long) => Unit): Unit = {
    val spark = batch0.sparkSession
    val index = IndexStore.streaming(spark, indexDir)
    if (index.replayed(batchId)) return
    val batch = batch0.stageBoundary
    if (batch.isEmpty) return
    // Hadoop FS existence check, not java.io.File — the corpus lives
    // wherever spark.read.parquet reads from (HDFS/S3 on a cluster)
    val corpusPath = new org.apache.hadoop.fs.Path(corpusDir)
    val corpus =
      if (corpusPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .exists(corpusPath))
        spark.read.parquet(corpusDir).select(col(idCol), col(textCol))
      else batch.select(col(idCol), col(textCol)).limit(0)
    // a batch doc drops when it near-matches history (history always
    // wins; before the first commit the history is empty) or has a
    // smaller in-batch near-neighbor — resolved at exact-shingle-set-rep
    // granularity: a batch of m copies of a hot history page never
    // materializes its m×|history matches| member pairs
    val kept = Stage.described(spark, "near-dedup batch: doomed set") {
      val doomed = graft.ext.Dedup.minhashLshDoomedIncremental(spark, batch,
        corpus, IndexStore.Ref(index.snapshot()), textCol, idCol, n,
        minJaccard, numPerms, bands, historyWins = true,
        graft.ext.Dedup.LocalDedupLimit)
      batch.join(doomed.stageBoundary, Seq(idCol), "left_anti")
        .stageBoundary
    }
    sink(kept, batchId)
    Stage.described(spark, "near-dedup batch: append bands") {
      index.append(Seq(graft.ext.Dedup.bandPart("", n, numPerms, bands)),
        Some(batchId)) { at =>
        graft.ext.Dedup.writeBands(kept, textCol, idCol, at(""), n, numPerms,
          bands)
      }
    }
  }

  /** Streaming end-to-end curation: each micro-batch runs the FULL
    * incremental curation pipeline
    * ([[graft.ext.Pipeline.curateV2Incremental]]: gate → span-clean →
    * exact → LSH → decontaminate → annotate) against the persisted
    * index family, sinks the curated rows, and folds the batch into the
    * indexes ([[graft.ext.Pipeline.curateV2AppendIndexes]]) so later
    * batches dedup against everything kept so far. The curation state
    * IS the on-disk index family — restart-safe, shared bit-for-bit
    * with the batch incremental path (batch and streaming curation are
    * one code path). Before the first batch commits, the family reads
    * as empty history. Contract as everywhere incremental: ids
    * increase across batches.
    */
  def curatedDocs(docs: DataFrame, bench: DataFrame, textCol: String,
      idCol: String, indexDir: String,
      k: Int = 8, minJaccard: Double = 0.9,
      decontamN: Int = 5, decontamMinHits: Int = 5,
      minCleanTokens: Int = 10)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    docs.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch0: DataFrame, batchId: Long) =>
        curateBatch(batch0, batchId, bench, textCol, idCol, indexDir,
          k, minJaccard, decontamN, decontamMinHits, minCleanTokens, sink)
      }

  /** One [[curatedDocs]] micro-batch, exposed so a replay (same batchId)
    * is directly testable. The batch's index rows are one keyed append
    * to the family's [[graft.IndexStore]]: an already-visible batch
    * skips; a replayed one probes only committed history (otherwise its
    * documents would classify as duplicates of "history" and the
    * epoch's output would collapse), recomputes deterministically, and
    * appends again.
    */
  private[streaming] def curateBatch(batch0: DataFrame, batchId: Long,
      bench: DataFrame, textCol: String, idCol: String, indexDir: String,
      k: Int, minJaccard: Double, decontamN: Int, decontamMinHits: Int,
      minCleanTokens: Int, sink: (DataFrame, Long) => Unit): Unit = {
    val family = IndexStore.streaming(batch0.sparkSession, indexDir)
    if (family.replayed(batchId)) return
    val batch = batch0.stageBoundary
    if (batch.isEmpty) return
    val curated = graft.ext.Pipeline.curateV2Incremental(
      batch, bench, textCol, idCol, family, k, minJaccard,
      decontamN, decontamMinHits, minCleanTokens)
      .stageBoundary
    sink(curated, batchId)
    graft.ext.Pipeline.curateV2AppendIndexes(batch, textCol, idCol,
      family, k, minCleanTokens, Some(batchId))
  }

  /** Streaming ANN-index ingestion with near-dup gating — the embedding
    * face of the incremental family: micro-batches of (id, vector) rows
    * probe the persisted IVF index ([[graft.ext.Similarity
    * .buildIvfIndex]] layout) for near-duplicates of history and of the
    * batch itself, sink the admitted rows, and fold them into the
    * index's cell-partitioned layout so later batches dedup against
    * everything admitted so far. The ANN state IS the on-disk index —
    * restart-safe and shared bit-for-bit with the batch incremental
    * path ([[graft.ext.Similarity.cosinePairsIncremental]]); a search
    * session can [[graft.ext.Similarity.ivfSearchIndexed]] the same dir
    * while ingestion runs. First batch trains the coarse quantizer from
    * its own vectors (deterministic per seed) and bootstraps the index.
    * Contract as everywhere incremental: ids increase across batches.
    */
  def indexedEmbeddings(vecs: DataFrame, idCol: String, vecCol: String,
      indexDir: String, minCosine: Double = 0.95, cells: Int = 16)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    vecs.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch0: DataFrame, batchId: Long) =>
        indexedEmbeddingBatch(batch0, batchId, idCol, vecCol, indexDir,
          minCosine, cells, sink)
      }

  /** One [[indexedEmbeddings]] micro-batch, exposed so a replay (same
    * batchId) is directly testable. The bootstrap build and every later
    * cell append are keyed on the batchId in the index's
    * [[graft.IndexStore]]: an already-visible batch skips; a replayed
    * one probes only committed history (its vectors never see
    * themselves as history), recomputes deterministically, re-appends.
    */
  private[streaming] def indexedEmbeddingBatch(batch0: DataFrame,
      batchId: Long, idCol: String, vecCol: String, indexDir: String,
      minCosine: Double, cells: Int, sink: (DataFrame, Long) => Unit): Unit = {
    import graft.ext.Similarity
    val spark = batch0.sparkSession
    val index = IndexStore.streaming(spark, indexDir)
    if (index.replayed(batchId)) return
    val batch = batch0.stageBoundary
    if (batch.isEmpty) return
    if (index.isEmpty) {
      // bootstrap: train the coarse quantizer on this batch, self-dedup
      // (greedy min-id keeper, same policy as the batch family), build
      // the index — quantizer included — from the admitted rows
      val k = math.min(cells.toLong, batch.count()).toInt
      val cents = Similarity.trainCentroidsKMeansPP(
        batch, idCol, vecCol, k)
      val assigned = Similarity.assignCells(
        batch.select(col(idCol).as("id"), col(vecCol).as("v")),
        "v", "cell", cents).stageBoundary
      val doomed = assigned.as("a").join(assigned.as("b"),
          col("a.cell") === col("b.cell") && col("a.id") < col("b.id"))
        .filter(Similarity.cosine(col("a.v"), col("b.v")) >= minCosine)
        .select(col("b.id").as(idCol)).distinct()
      val kept = batch.join(doomed, Seq(idCol), "left_anti").stageBoundary
      sink(kept, batchId)
      Similarity.writeIvfIndex(
        Similarity.assignCells(kept, vecCol, "__cell", cents),
        idCol, vecCol, "__cell", indexDir, cents, Some(batchId))
      return
    }
    val cents = Similarity.readCentroids(spark, indexDir)
    val pairs = Similarity.cosinePairsIncremental(
      spark, indexDir, batch, idCol, vecCol, minCosine)
    // ids increase across batches, so in any near-dup pair the larger
    // id is the newer doc: history beats batch, earlier batch doc beats
    // later — the same greedy policy as the batch family
    val doomed = pairs.select(col("id_b").as(idCol)).distinct()
    val kept = batch.join(doomed, Seq(idCol), "left_anti").stageBoundary
    sink(kept, batchId)
    Similarity.appendIvfIndex(
      Similarity.assignCells(kept, vecCol, "__cell", cents)
        .select(col(idCol), col(vecCol), col("__cell"))
        .repartition(col("__cell")).sortWithinPartitions(idCol),
      "__cell", index, Some(batchId))
  }

  /** Streaming quality gating: the same C4 + Gopher gates the batch
    * pipeline applies ([[graft.ext.TextFunctions.c4DocKeep]] /
    * [[graft.ext.TextFunctions.gopherKeep]]), as a stateless streaming
    * map — documents are gated the moment they arrive, no state, no
    * watermark needed. Composes before [[dedupedDocs]] so the dedup
    * state only holds documents that survive the gates.
    */
  def qualityGatedDocs(docs: DataFrame, textCol: String): DataFrame =
    docs.filter(
      graft.ext.TextFunctions.c4DocKeep(col(textCol)) &&
        graft.ext.TextFunctions.gopherKeep(col(textCol)))

  /** Streaming benchmark decontamination: the Bloom-compressed eval
    * set ([[graft.ext.Decontaminate.benchBloom]]) probed per arriving
    * document as a STATELESS filter — [[graft.ext.Decontaminate
    * .bloomHitsCol]] is a pure column expression (the bit array rides
    * the plan as a literal, the gram probe is a codegen'd fold over
    * the row's own array), so the gate needs no micro-batch state, no
    * watermark, and drops contaminated docs the moment they arrive.
    * False positives over-drop (tunable via mBits/k); false negatives
    * are impossible — the direction decontamination must never err in.
    */
  def decontaminatedDocs(docs: DataFrame, bloomBits: Array[Long],
      textCol: String, n: Int, k: Int = 5, minHits: Int = 1): DataFrame =
    docs.filter(graft.ext.Decontaminate.bloomHitsCol(
      col(textCol), bloomBits, n, k) < minHits)

  /** Streaming heavy-hitter sketch maintenance: each micro-batch folds
    * into the persisted Misra–Gries candidate state
    * ([[graft.ext.TextFunctions.heavyHittersUpdateState]]) keyed by
    * batchId, so a replayed batch is a committed no-op — idempotent
    * without a ledger. The state is ONE ≤sketchK-entry (token, weight)
    * table + the running token count; answers come from
    * [[graft.ext.TextFunctions.heavyHittersFromState]] (an
    * isin-filtered recount, the only step that touches the corpus).
    */
  def heavyHitterSketch(docs: DataFrame, textCol: String,
      stateDir: String, sketchK: Int = 1024): DataStreamWriter[Row] =
    docs.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.ext.TextFunctions.heavyHittersUpdateState(
          batch, textCol, stateDir, sketchK, version = Some(batchId))
      }

  /** Streaming ingestion into the Z-ordered corpus store
    * ([[graft.ext.ClusteredStore]]): each micro-batch lands as a
    * batchId-tagged delta (plain parquet write + marker — replays are
    * committed no-ops, crashed attempts overwrite), and when the
    * pending delta rows exceed `compactRatio` × the base row count
    * the batch triggers a compaction into a fresh clustered epoch —
    * the lakehouse append/OPTIMIZE loop, driven by the stream itself.
    * Readers ([[graft.ext.ClusteredStore.read]]) are never torn: the
    * new epoch commits before the old one vacuums.
    */
  def clusteredStoreDocs(docs: DataFrame, root: String,
      dims: Seq[String], bits: Int = 8,
      maxRecordsPerFile: Int = 1000000,
      compactRatio: Double = 0.25): DataStreamWriter[Row] =
    docs.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        graft.ext.ClusteredStore.ensure(spark, root, batch, dims, bits,
          maxRecordsPerFile)
        graft.ext.ClusteredStore.append(spark, root, batch,
          tag = Some(s"b$batchId"))
        val pending = graft.ext.ClusteredStore.deltaRows(spark, root)
        val baseRows = graft.ext.ClusteredStore.read(spark, root).count() -
          pending
        if (pending > compactRatio * math.max(baseRows, 1L)) {
          graft.ext.ClusteredStore.compact(spark, root, dims, bits,
            maxRecordsPerFile)
        }
      }

  /** Streaming kNN-graph maintenance: each micro-batch of embedding
    * rows folds into the persisted graph via
    * [[graft.ext.Similarity.knnGraphIncrement]] — new vectors take
    * their top-k, old vectors in the touched cells repair, and the
    * increment's vectors append to the cell-partitioned IVF layout's
    * [[graft.IndexStore]] keyed on the batchId. That append is the
    * batch's commit point: a visible batchId is a committed no-op, and
    * a replay first drops the crashed attempt's state version. The
    * very first batch bootstraps both the IVF layout and the graph —
    * the increment's general case already IS the batch build when
    * history is empty.
    *
    * Maintenance: the within-cell repair cost is Σ|cell|², so a
    * drifting ingest stream that overgrows one cell degrades
    * quadratically — watch [[graft.ext.Similarity.ivfHotCells]] on the
    * ivfDir (a metadata-scale check) and, when it trips, pause the
    * stream and run [[graft.ext.Similarity.retrainKnnQuantizer]]
    * (re-cell + batch-rebuilt state as the next version; the resumed
    * stream must assign cells with the NEW persisted quantizer).
    * Deliberately NOT wired into the batch loop: the IVF rewrite is a
    * whole-layout overwrite whose crash window needs an operator
    * decision, not a silent mid-stream mutation.
    */
  def knnGraphVectors(vecs: DataFrame, idCol: String, vecCol: String,
      cellCol: String, k: Int, ivfDir: String,
      knnDir: String): DataStreamWriter[Row] =
    vecs.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        knnBatch(batch, batchId, idCol, vecCol, cellCol, k, ivfDir, knnDir)
      }

  private[streaming] def knnBatch(batch: DataFrame, batchId: Long,
      idCol: String, vecCol: String, cellCol: String, k: Int,
      ivfDir: String, knnDir: String): Unit = {
    val spark = batch.sparkSession
    val state = graft.ext.Similarity.knnState(spark, knnDir)
    if (!IndexStore(spark, ivfDir).replayed(batchId)) {
      state.drop(batchId) // a crashed attempt's version, committed or not
      if (!batch.isEmpty)
        graft.ext.Similarity.knnGraphIncrement(batch, idCol, vecCol,
          cellCol, k, ivfDir, knnDir, version = Some(batchId))
    }
    // Vacuum keys on the max COMMITTED version, not batchId: an empty
    // micro-batch writes no version batchId, and vacuuming below the
    // batchId would then delete every surviving state version. A
    // replayed batch runs it too, finishing a vacuum a crash cut short.
    state.latest.foreach(state.vacuumBelow)
  }

  /** Streaming boilerplate-line mining: the line-sketch face of
    * [[heavyHitterSketch]] — each micro-batch folds its per-doc
    * distinct lines into the persisted template state
    * ([[graft.ext.TextFunctions.boilerplateUpdateState]]), batchId-
    * keyed so replays are committed no-ops; answers come from
    * [[graft.ext.TextFunctions.boilerplateFromState]].
    */
  def boilerplateSketch(docs: DataFrame, textCol: String,
      stateDir: String, sketchK: Int = 1024): DataStreamWriter[Row] =
    docs.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.ext.TextFunctions.boilerplateUpdateState(
          batch, textCol, stateDir, sketchK, version = Some(batchId))
      }

  /** Event sessionization — the custom-state shape Structured Streaming
    * exposes through `flatMapGroupsWithState` (SURVEY §2.10 extension):
    * per user, events within `gapMs` of the running session extend it;
    * a larger gap closes it (emitted downstream) and opens a new one;
    * an idle session closes when the event-time watermark passes its
    * end + gap (event-time timeout). State is one small accumulator per
    * ACTIVE user — bounded by the watermark, never by history; the only
    * shuffle keys on user_id.
    */
  def sessionize(events: DataFrame, tsCol: String, userCol: String,
      valueCol: String, gapMs: Long, watermark: String): Dataset[UserSession] = {
    val s = events.sparkSession
    import s.implicits._
    val typed = events
      .select(col(userCol).cast(LongType).as("user_id"),
        col(tsCol).cast(TimestampType).as("ts"),
        coalesce(col(valueCol).cast(DoubleType), lit(0.0)).as("value"))
      .withWatermark("ts", watermark) // after the cast so the tag sticks
      .as[(Long, java.sql.Timestamp, Double)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[SessionAcc, UserSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid, it, state) =>
          def emit(a: SessionAcc) = UserSession(uid,
            new java.sql.Timestamp(a.startMs), new java.sql.Timestamp(a.endMs),
            a.events, a.totalValue)
          if (!it.hasNext && state.hasTimedOut) {
            // watermark passed end + gap: the idle session closes
            val out = Iterator(emit(state.get))
            state.remove()
            out
          } else {
            val evs = it.map(e => (e._2.getTime, e._3)).toSeq.sortBy(_._1)
            var cur = state.getOption
            val closed = Seq.newBuilder[UserSession]
            evs.foreach { case (t, v) =>
              cur match {
                case Some(a) if t - a.endMs <= gapMs =>
                  cur = Some(SessionAcc(a.startMs, math.max(a.endMs, t),
                    a.events + 1, a.totalValue + v))
                case Some(a) =>
                  closed += emit(a)
                  cur = Some(SessionAcc(t, t, 1, v))
                case None =>
                  cur = Some(SessionAcc(t, t, 1, v))
              }
            }
            cur.foreach { a =>
              state.update(a)
              // timeout must sit beyond the current watermark
              state.setTimeoutTimestamp(math.max(a.endMs + gapMs,
                state.getCurrentWatermarkMs() + 1))
            }
            closed.result().iterator
          }
      }
  }

  /** Streaming near-dup CLUSTER maintenance — the streaming face of
    * [[graft.ext.Cc]]: micro-batches of near-dup PAIRS (whatever the
    * LSH/SimHash incremental probes emit) fold into a persisted
    * cluster labeling via [[graft.ext.Cc.addPairs]]. The state IS one
    * on-disk star-forest snapshot (id → component for every node that
    * has ever appeared in a pair — clustered nodes only, NOT the whole
    * corpus), rewritten per batch as the [[graft.Commit.Versions]]
    * version numbered by the batchId: a replayed committed batch skips,
    * a crash-window replay recomputes from the previous committed
    * snapshot and reproduces the identical labeling (contraction is
    * deterministic). Older snapshots vacuum after commit;
    * [[readClusterLabels]] always resolves the latest COMMITTED one.
    *
    * Scale note: the per-batch cost is the contraction over
    * |star snapshot| + |batch pairs| — history enters pre-collapsed,
    * so rounds follow the increment's structure; the snapshot rewrite
    * is linear in clustered nodes (the honest floor for exact global
    * labels: a merge can relabel an arbitrarily old cluster).
    */
  def clusteredPairs(pairs: DataFrame, labelsDir: String,
      aCol: String = "id_a", bCol: String = "id_b")(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    pairs.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch0: DataFrame, batchId: Long) =>
        clusterBatch(batch0, batchId, aCol, bCol, labelsDir, sink)
      }

  private def labelState(spark: org.apache.spark.sql.SparkSession,
      labelsDir: String) =
    new Commit.Versions(Commit.fs(spark, labelsDir), labelsDir, "v",
      "cluster labels")

  /** latest COMMITTED cluster snapshot, None before the first batch */
  def readClusterLabels(spark: org.apache.spark.sql.SparkSession,
      labelsDir: String): Option[DataFrame] = {
    val state = labelState(spark, labelsDir)
    state.latest.map(v => spark.read.schema("id LONG, component LONG")
      .parquet(state.dir(v).toString))
  }

  private[streaming] def clusterBatch(batch0: DataFrame, batchId: Long,
      aCol: String, bCol: String, labelsDir: String,
      sink: (DataFrame, Long) => Unit): Unit = {
    val spark = batch0.sparkSession
    val state = labelState(spark, labelsDir)
    if (state.replayed(batchId)) return
    val batch = batch0.stageBoundary
    if (batch.isEmpty) return
    val parent = state.latest
    val merged = readClusterLabels(spark, labelsDir) match {
      case Some(prev) => graft.ext.Cc.addPairs(prev, batch, aCol, bCol)
      case None => graft.ext.Cc.connectedComponents(batch, aCol, bCol)
    }
    val snap = merged.stageBoundary
    sink(snap, batchId)
    // committing version batchId reclaims the older snapshots
    state.publish(batchId, parent) { tmp => snap.write.parquet(tmp.toString) }
  }

  /** Streaming funnel progress — the streaming face of
    * [[graft.ext.Funnel.stages]]: per user, an append-only log of
    * stage advancements with first-touch semantics (an event advances
    * the chain iff it is the NEXT step and strictly after the last
    * stage time). Within a micro-batch events process in event-time
    * order, so in-order streams reproduce the batch semantics exactly;
    * a cross-batch late event that would have produced an EARLIER
    * stage time is ignored (the usual no-retraction caveat — bounded
    * by the watermark like every event-time operator here).
    *
    * State is one ≤k-long list per active user, removed when the
    * watermark passes the user's last event + `idleMs` — bounded by
    * active users, never by history; the only shuffle keys on user.
    */
  def funnelSteps(events: DataFrame, userCol: String, typeCol: String,
      tsCol: String, steps: Seq[String], watermark: String,
      idleMs: Long = 30L * 24 * 3600 * 1000): Dataset[FunnelStep] = {
    require(steps.nonEmpty)
    val s = events.sparkSession
    import s.implicits._
    val typed = events
      .select(col(userCol).cast(LongType).as("user_id"),
        col(typeCol).cast(org.apache.spark.sql.types.StringType).as("et"),
        col(tsCol).cast(TimestampType).as("ts"))
      .withWatermark("ts", watermark)
      .as[(Long, String, java.sql.Timestamp)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[FunnelAcc, FunnelStep](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid, it, state) =>
          if (!it.hasNext && state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val evs = it.toSeq.sortBy(_._3.getTime)
            var acc = state.getOption.getOrElse(FunnelAcc(Nil))
            val out = Seq.newBuilder[FunnelStep]
            evs.foreach { case (_, et, ts) =>
              val t = ts.getTime
              val k = acc.times.length
              if (k < steps.length && et == steps(k) &&
                  acc.times.headOption.forall(t > _)) {
                acc = FunnelAcc(t :: acc.times)
                out += FunnelStep(uid, k + 1, new java.sql.Timestamp(t))
              }
            }
            state.update(acc)
            state.setTimeoutTimestamp(math.max(
              evs.last._3.getTime + idleMs,
              state.getCurrentWatermarkMs() + 1))
            out.result().iterator
          }
      }
  }

  /** Watermarked stream-stream attribution join (the streaming face of
    * [[graft.ext.RangeJoin]]): each left event joins same-key right
    * events at most `window` older — Spark's native stream-stream inner
    * join with an event-time range condition, so BOTH sides' state is
    * bounded by watermark + range (late rows beyond the watermark are
    * dropped, matched state expires as the watermark passes the range).
    * Inputs need (`keyCol`, `tsCol` timestamp) columns; remaining
    * column names must be disjoint.
    */
  def intervalJoin(left: DataFrame, right: DataFrame,
      keyCol: String, tsCol: String,
      watermark: String, window: String): DataFrame = {
    val l = left.withWatermark(tsCol, watermark).alias("l")
    val r = right
      .withColumnRenamed(keyCol, "__rk").withColumnRenamed(tsCol, "__rts")
      .withWatermark("__rts", watermark).alias("r")
    l.join(r,
      col(s"l.$keyCol") === col("r.__rk") &&
        col(s"l.$tsCol") >= col("r.__rts") &&
        col(s"l.$tsCol") <= col("r.__rts") + expr(s"interval $window"))
      .withColumnRenamed("__rts", s"${tsCol}_right")
      .drop("__rk")
  }

  /** Streaming KMV sketch maintenance + per-batch ingest screening —
    * the streaming face of the [[graft.ext.CorpusOverlap]] family
    * (every other incremental family has one): each micro-batch of
    * documents folds into the persisted corpus sketch at `sketchPath`
    * through the family's merge, and the batch's
    * one-row overlap estimate against the PRE-batch sketch ("how much
    * of this shard has the corpus already seen") goes to
    * `sink(estimate, batchId)`. At 100 TB the per-batch cost is one
    * map pass + one ≤k-long partial-aggregated exchange over the BATCH
    * plus k persisted longs — history is never rescanned.
    *
    * Idempotence: the merge is a full build of the sketch's
    * [[graft.IndexStore]] keyed on the batchId, so a batch whose merge
    * committed is skipped. The screen reads the committed pre-batch
    * sketch and is sunk BEFORE the merge commits, so a replay from any
    * earlier crash point screens against the same history and
    * reproduces the sink row exactly (`sink` overwrites per batch).
    */
  def kmvSketchStream(docs: DataFrame, textCol: String,
      sketchPath: String, k: Int = 256)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    docs.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        kmvBatch(batch, batchId, textCol, sketchPath, k, sink)
      }

  /** Streaming Count-Min sketch maintenance + per-batch novelty screen
    * — the streaming face of the [[graft.ext.Cms]] family: each
    * micro-batch's tokens fold into the persisted corpus frequency
    * sketch at `stateDir`, and a one-row screen against the PRE-batch
    * sketch ("how many of this shard's distinct tokens has the corpus
    * already seen ≥ `minCount` times") goes to `sink(df, batchId)`.
    * Per-batch cost: one map-combined aggregation over the BATCH plus
    * a fixed 80 KB state read/write — history is never rescanned.
    *
    * CMS merge is a SUM, so a replayed fold would double-count —
    * idempotence rides [[graft.ext.Cms.updateState]]'s versioned
    * commit protocol keyed on the batch id: a committed batch
    * short-circuits the whole body (fold AND screen — the screen can't
    * run against a post-batch sketch because the version commit is the
    * LAST step; any earlier crash point replays from the previous
    * committed state, reproducing the sink row exactly).
    */
  def cmsSketchStream(docs: DataFrame, textCol: String, stateDir: String,
      depth: Int = graft.ext.Cms.DefaultDepth,
      width: Int = graft.ext.Cms.DefaultWidth, minCount: Long = 2)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    docs.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        cmsBatch(batch, batchId, textCol, stateDir, depth, width,
          minCount, sink)
      }

  /** One [[cmsSketchStream]] micro-batch, exposed so a replay (same
    * batchId, any crash window) is directly testable.
    */
  private[streaming] def cmsBatch(batch0: DataFrame, batchId: Long,
      textCol: String, stateDir: String, depth: Int, width: Int,
      minCount: Long, sink: (DataFrame, Long) => Unit): Unit = {
    val spark = batch0.sparkSession
    if (graft.ext.Cms.committedVersions(spark, stateDir).contains(batchId))
      return
    val toks = batch0.stageBoundary
      .select(explode(graft.ext.TextFunctions.tokens(col(textCol)))
        .as("__w"))
      .filter(length(col("__w")) > 0)
    val (pre, _) = graft.ext.Cms.readState(spark, stateDir, depth, width)
    val est = toks.distinct()
      .select(count(lit(1)).as("n_tokens"),
        coalesce(sum(when(
          graft.ext.Cms.estimateCol(col("__w"), pre, depth, width)
            >= minCount, 1L).otherwise(0L)), lit(0L)).as("n_frequent"))
      .withColumn("batch_id", lit(batchId))
    sink(est, batchId)
    graft.ext.Cms.updateState(toks, col("__w"), stateDir, depth, width,
      Some(batchId))
  }

  /** One [[kmvSketchStream]] micro-batch, exposed so a replay (same
    * batchId, any crash window) is directly testable.
    */
  private[streaming] def kmvBatch(batch0: DataFrame, batchId: Long,
      textCol: String, sketchPath: String, k: Int,
      sink: (DataFrame, Long) => Unit): Unit = {
    val sketch = IndexStore.streaming(batch0.sparkSession, sketchPath)
    if (sketch.replayed(batchId)) return
    val batch = batch0.stageBoundary
    if (batch.count() == 0) return
    // the committed pre-batch sketch, materialized (k rows) so the
    // screen never reads the merge below
    val pre = graft.ext.CorpusOverlap.sketchRows(sketch, k).stageBoundary
    // the bootstrap batch has no history to screen against (an empty
    // history side would put 0 in the estimator's containment divisor)
    // — the sketch is still written; screening starts at the next batch
    if (!pre.isEmpty)
      sink(graft.ext.CorpusOverlap.overlapFromSketch(pre, batch, textCol, k)
        .withColumn("batch_id", lit(batchId)), batchId)
    graft.ext.CorpusOverlap.mergeKmvSketch(batch, textCol, sketch, k,
      Some(batchId))
  }

  /** convenience: run a streaming query to completion over a bounded
    * source (tests / backfills)
    */
  def runOnce(w: DataStreamWriter[Row], checkpoint: String): StreamingQuery = {
    val q = w.option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q
  }
}
