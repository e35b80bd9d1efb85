package graft.ext

import graft.{IndexStore, Stage}
import graft.Stage.StageOps

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** End-to-end corpus curation — the composition the individual operators
  * exist for: quality-gate → exact dedup → near-dedup → annotate. Each
  * stage is one of the verified primitives; the composition stays a
  * DataFrame program, so Catalyst fuses the map-side stages and the only
  * shuffles are the two dedup keys (fingerprint, LSH bands).
  *
  * Keeper policy: a doc drops when an exact duplicate with a smaller id
  * survives the gate, or (near-dedup) when any verified near-duplicate
  * with a smaller id exists — deterministic, order-independent.
  */
object Pipeline {

  /** @param minQuality   quality-score gate in [0,1]
    * @param nearDedup    also drop MinHash-LSH near-duplicates at
    *                     `minJaccard` (exact fingerprint dups always drop)
    */
  def curate(docs: DataFrame, textCol: String, idCol: String,
      minQuality: Double = 0.0,
      nearDedup: Boolean = true, minJaccard: Double = 0.9): DataFrame = {
    // 1. quality gate (map-only)
    val gated = docs.filter(TextFunctions.qualityScore(col(textCol)) >= minQuality)
    // 2. exact dedup: keep the min-id row per fingerprint
    val keepers = gated
      .groupBy(TextFunctions.fingerprint(col(textCol)).as("__fp"))
      .agg(min(col(idCol)).as(idCol))
      .select(idCol)
    val exactDeduped = gated.join(keepers, Seq(idCol), "left_semi")
    // 3. near-dedup: drop the HIGHER id of every verified near-dup pair
    val deduped =
      if (!nearDedup) exactDeduped
      else {
        // doomed-set primitive, not the pair list: identical anti-join
        // result (proof at Dedup.minhashLshDoomed) without materializing
        // the Θ(m²) pairs a duplicate-heavy corpus implies
        val doomed = Dedup.minhashLshDoomed(exactDeduped, textCol, idCol,
          n = 3, minJaccard = minJaccard)
        exactDeduped.join(doomed, Seq(idCol), "left_anti")
      }
    // 4. annotations (map-only)
    deduped
      .withColumn("lang_id", TextFunctions.langId(col(textCol)))
      .withColumn("token_cnt", TextFunctions.tokenCount(col(textCol)))
      .withColumn("quality", TextFunctions.qualityScore(col(textCol)))
  }

  /** The full modern curation stack, each stage a verified primitive:
    *
    *   1. Gopher composite quality gate (map-only,
    *      [[TextFunctions.gopherKeep]]);
    *   2. exact duplicate-substring removal over the gated corpus
    *      ([[SubstringDedup.cleanedText]], k-token windows) — documents
    *      carry their cleaned text forward;
    *   3. drop documents left with fewer than `minCleanTokens` tokens;
    *   4. exact dedup on the CLEANED text (min-id keeper) — span removal
    *      can make near-copies exactly equal, so this runs after it;
    *   5. MinHash-LSH near-dedup on the cleaned text (higher id of each
    *      verified pair drops);
    *   6. benchmark decontamination against `bench`
    *      ([[Decontaminate.overlapHits]], `decontamN`-gram evidence);
    *   7. annotate (lang, token count, quality of the cleaned text).
    *
    * Shuffle ledger at 100 TB: window-hash key (spans), fingerprint
    * (exact), band keys + candidate verify (LSH), shingle-key broadcast
    * join (decontaminate) — every other stage is a narrow map.
    */
  def curateV2(docs: DataFrame, bench: DataFrame,
      textCol: String, idCol: String,
      k: Int = 8, minJaccard: Double = 0.9,
      decontamN: Int = 5, decontamMinHits: Int = 5,
      minCleanTokens: Int = 10): DataFrame = {
    val gated = docs.filter(TextFunctions.gopherKeep(col(textCol)))
    // STAGE BOUNDARIES: the span-clean subtree (two corpus shuffles + a
    // join) feeds every later stage, and the later stages each scan
    // their input several times (LSH banding + verification, dedup
    // semi/anti joins, decontamination). Materializing the boundary
    // makes each stage's work run ONCE — the in-process analogue of a
    // production pipeline persisting stage outputs between jobs (which
    // a 100 TB run does anyway, for restartability). Without these, the
    // clean pipeline re-executes ~6× (measured 16 s vs 4 s at sf0.1).
    val cleaned = SubstringDedup.cleanedText(gated, textCol, idCol, k)
      .filter(TextFunctions.tokenCount(col("cleaned")) >= minCleanTokens)
      .stageBoundary
    val keepers = cleaned
      .groupBy(TextFunctions.fingerprint(col("cleaned")).as("__fp"))
      .agg(min(col(idCol)).as(idCol))
      .select(idCol)
    val exact = cleaned.join(keepers, Seq(idCol), "left_semi")
      .stageBoundary
    val doomed = Dedup.minhashLshDoomed(exact, "cleaned", idCol,
      n = 3, minJaccard = minJaccard)
    val nearDeduped = exact.join(doomed, Seq(idCol), "left_anti")
      .stageBoundary
    val dirty = Decontaminate.overlapHits(
      nearDeduped,
      bench.select(col(idCol), col(textCol).as("cleaned")),
      "cleaned", idCol, n = decontamN, minHits = decontamMinHits)
      .select(col("doc_id").as("__dirty_id"))
    nearDeduped
      .join(dirty, col(idCol) === col("__dirty_id"), "left_anti")
      .withColumn("lang_id", TextFunctions.langId(col("cleaned")))
      .withColumn("token_cnt", TextFunctions.tokenCount(col("cleaned")))
      .withColumn("quality", TextFunctions.qualityScore(col("cleaned")))
  }

  // ---- incremental curation: the four per-operator incremental indexes
  // composed into one daily-ingest pipeline. CONTRACT (shared with every
  // per-op incremental face): history ids < increment ids (ingest
  // order), so history keepers never change and
  //   curateV2Incremental(inc)  ≡  curateV2(history ∪ inc) ↾ inc-ids
  // (IncrementalPipelineSpec proves it property-style; the
  // q_pipeline_curate_incremental oracle replays it byte-for-byte).

  /** Persist the index family [[curateV2Incremental]] probes, from the
    * history corpus, as one full build of a [[graft.IndexStore]] at
    * `dir` whose version holds four parts:
    *
    *   - `windows`   distinct k-token window hashes of the GATED raw
    *     text (8 B each) — the substring-dedup face;
    *   - `fingerprints` content fingerprints of the span-cleaned docs
    *     (16 B per distinct doc) — the exact-dedup face;
    *   - `bands`     MinHash band index of the exact-dedup survivors
    *     (~20 B × bands per doc), band-partitioned — the near-dup face;
    *   - `exact_docs` (id, cleaned) of the exact survivors — the
    *     verification text LSH candidates re-shingle against (the one
    *     non-constant-size artifact: it IS the curated corpus a
    *     production pipeline persists anyway).
    *
    * Each index derives from the same intermediate stage the batch
    * pipeline computes — nothing here re-reads history afterwards. The
    * four parts commit together: a probe sees all of them or none.
    */
  def curateV2WriteIndexes(docs: DataFrame, textCol: String, idCol: String,
      dir: String, k: Int = 8, minCleanTokens: Int = 10): Unit =
    IndexStore(docs.sparkSession, dir).build(curationParts(k)) { at =>
      joined { fork =>
        val gated = docs.filter(TextFunctions.gopherKeep(col(textCol)))
        // the window index derives from the GATED RAW text and nothing
        // downstream of it — overlap its build with the span-clean chain
        fork(SubstringDedup.windowRows(gated, textCol, idCol, k)
          .write.parquet(at("windows")))
        val cleaned = SubstringDedup.cleanedText(gated, textCol, idCol, k)
          .filter(TextFunctions.tokenCount(col("cleaned")) >= minCleanTokens)
          .stageBoundary
        // the fingerprint index reads only the MATERIALIZED boundary, as
        // does the exact_docs chain — two more independent writes
        fork(Dedup.fingerprintRows(cleaned, "cleaned")
          .write.parquet(at("fingerprints")))
        val keepers = cleaned
          .groupBy(TextFunctions.fingerprint(col("cleaned")).as("__fp"))
          .agg(min(col(idCol)).as(idCol))
          .select(idCol)
        // the exact survivors feed BOTH remaining indexes — materialize
        // them once, then the exact_docs write and the band build are
        // independent actions over the same checkpointed rows
        val exact = cleaned.join(keepers, Seq(idCol), "left_semi")
          .select(col(idCol), col("cleaned"))
          .stageBoundary
        fork(exact.write.parquet(at("exact_docs")))
        Dedup.writeBands(exact, "cleaned", idCol, at("bands"), CurationN,
          CurationPerms, CurationBands)
      }
    }

  /** Run `body`, which may submit independent writes through `fork`
    * (independent actions submitted concurrently back-fill each other's
    * stragglers). Every forked write is JOINED before this
    * returns, even when `body` or another write throws, so a version
    * never publishes over a write still running, and a failure is never
    * swallowed by a detached write: the first one — `body`'s or any
    * fork's — is the one surfaced.
    */
  private def joined(body: Fork => Unit): Unit = {
    val fork = new Fork
    var primary: Throwable = null
    try body(fork)
    catch { case t: Throwable => primary = t }
    fork.started.foreach { f =>
      try Await.result(f, Duration.Inf)
      catch { case t: Throwable => if (primary == null) primary = t }
    }
    if (primary != null) throw primary
  }

  /** starts the concurrent writes of one [[joined]] block */
  private final class Fork {
    val started = scala.collection.mutable.ArrayBuffer.empty[Future[Unit]]
    def apply(write: => Unit): Unit =
      started += Future(write)(ExecutionContext.global)
  }

  // the curation family's MinHash banding (the band index defaults)
  private val CurationN = 3
  private val CurationPerms = 64
  private val CurationBands = 16

  private val ExactDocs =
    IndexStore.Part("exact_docs", Seq("kind" -> "exact-docs"))

  /** the four parts of a curation family version */
  private def curationParts(k: Int) = Seq(
    SubstringDedup.windowPart("windows", k),
    Dedup.fingerprintPart("fingerprints"),
    ExactDocs,
    Dedup.bandPart("bands", CurationN, CurationPerms, CurationBands))

  /** Curate an ingestion increment against a [[curateV2WriteIndexes]]
    * index family: result rows are exactly the increment's rows of the
    * batch `curateV2` over history ∪ increment — without re-reading
    * history text anywhere except for the LSH candidates' verification
    * (a semi-join on candidate ids against `exact_docs`). Every probe
    * reads one [[graft.IndexStore.Snapshot]] of the family.
    *
    * Stage ledger: gate (map) → span-clean vs the window index (one
    * 8-byte-key join) → exact vs the fingerprint index (one 16-byte-key
    * anti-join) → LSH vs the band-partitioned index (pruned band join +
    * candidate-only re-shingling) → decontaminate (broadcast) →
    * annotate (map). Work scales with the increment + index sizes,
    * never with history's text. A small increment (within
    * [[Dedup.LocalDedupLimit]] survivors) finishes the LSH step on the
    * driver and drops its contaminated docs there, so the result is a
    * driver-local relation and its annotation runs no job.
    */
  def curateV2Incremental(newDocs: DataFrame, bench: DataFrame,
      textCol: String, idCol: String, dir: String,
      k: Int = 8, minJaccard: Double = 0.9,
      decontamN: Int = 5, decontamMinHits: Int = 5,
      minCleanTokens: Int = 10): DataFrame =
    curateV2Incremental(newDocs, bench, textCol, idCol,
      IndexStore(newDocs.sparkSession, dir), k, minJaccard, decontamN,
      decontamMinHits, minCleanTokens)

  private[graft] def curateV2Incremental(newDocs: DataFrame,
      bench: DataFrame, textCol: String, idCol: String, family: IndexStore,
      k: Int, minJaccard: Double, decontamN: Int, decontamMinHits: Int,
      minCleanTokens: Int): DataFrame = {
    val spark = newDocs.sparkSession
    val snap = family.snapshot()
    val (_, exact) =
      probeCleanExact(newDocs, textCol, idCol, snap, k, minCleanTokens)
    val (near, nearRows) = Stage.described(spark, "curate: near-dedup")(
      nearDeduped(exact, snap, idCol, minJaccard))
    val dirty = Decontaminate.overlapHits(
      near,
      bench.select(col(idCol), col(textCol).as("cleaned")),
      "cleaned", idCol, n = decontamN, minHits = decontamMinHits)
      .select(col("doc_id").as("__dirty_id"))
    // driver-held survivors drop their (at most as many) dirty ids on
    // the driver, so the annotation below folds into their relation
    val clean = nearRows.flatMap(rows =>
      Stage.described(spark, "curate: decontaminate")(
        LocalGraph.collectBounded(dirty, Dedup.LocalDedupLimit)).map(d =>
        LocalGraph.frame(spark, without(rows, exact.schema, idCol,
          d.map(_.getLong(0))), exact.schema)))
      .getOrElse(
        near.join(dirty, col(idCol) === col("__dirty_id"), "left_anti"))
    clean
      .withColumn("lang_id", TextFunctions.langId(col("cleaned")))
      .withColumn("token_cnt", TextFunctions.tokenCount(col("cleaned")))
      .withColumn("quality", TextFunctions.qualityScore(col("cleaned")))
  }

  /** The exact-dedup survivors minus their near-duplicates: the
    * larger-id greedy drop of the batch contract's pairs.id_b, resolved
    * at rep granularity (doomed history ids were no-ops in the
    * anti-join, so the increment-only doomed set is the same filter).
    * Survivors within [[Dedup.LocalDedupLimit]] rows and
    * [[Dedup.LocalDedupBytes]] are collected once and handed to the
    * doomed set's driver-local face; when it answers driver-local too,
    * the result is their rows minus the doomed ids, returned with the
    * rows, and no boundary runs. Otherwise the anti-join is
    * materialized as before.
    */
  private def nearDeduped(exact: DataFrame, snap: IndexStore.Snapshot,
      idCol: String, minJaccard: Double): (DataFrame, Option[Array[Row]]) = {
    val spark = exact.sparkSession
    val held = LocalGraph.collectBounded(exact, Dedup.LocalDedupLimit,
      Dedup.LocalDedupBytes)
    val kept = held.fold(exact)(LocalGraph.frame(spark, _, exact.schema))
    val survivors = kept.select(col(idCol), col("cleaned"))
    // exact_docs holds survivors' rows: read it with their schema, not
    // an inferring job
    val exactDocs = snap.probe(ExactDocs.name, ExactDocs.params,
      StructType(survivors.schema.map(_.copy(nullable = true))).toDDL)
    val doomed = Dedup.minhashLshDoomedIncremental(spark, survivors,
      exactDocs, IndexStore.Ref(snap, "bands"), "cleaned", idCol, CurationN,
      minJaccard, CurationPerms, CurationBands, historyWins = false,
      // survivors past the bound would fail the local face's collect too
      if (held.isDefined) Dedup.LocalDedupLimit else 0)
    (held, LocalGraph.localRows(doomed)) match {
      case (Some(rows), Some(d)) =>
        val left = without(rows, exact.schema, idCol, d.map(_.getLong(0)))
        (LocalGraph.frame(spark, left, exact.schema), Some(left))
      case _ =>
        (kept.join(doomed, Seq(idCol), "left_anti").stageBoundary, None)
    }
  }

  /** driver-held `rows` of `schema` whose LONG `idCol` is not in `ids` */
  private def without(rows: Array[Row], schema: StructType, idCol: String,
      ids: Iterable[Long]): Array[Row] = {
    val gone = ids.toSet
    val i = schema.fieldIndex(idCol)
    rows.filterNot(r => gone(r.getLong(i)))
  }

  /** The gated increment span-cleaned against the window index, and its
    * rows that survive exact dedup against the fingerprint index: two
    * materialized boundaries, shared by [[curateV2Incremental]] and the
    * [[curateV2AppendIndexes]] that folds the same increment in.
    *
    * Reuse rule: the last probe of each store is remembered, keyed on
    * the snapshot's token, the increment's plan and the probe's
    * arguments, and a probe with an equal key returns it instead of
    * probing again. Only a snapshot with a token and an increment whose
    * every plan leaf is in memory (`LocalRelation`, `LogicalRDD`) are
    * remembered: a file-backed increment can read different rows later.
    * The entry is dropped when the append that used it publishes, or
    * replaced by the next remembered probe of the store; a newer token
    * drops it. Entries are only dropped, never unpersisted: the
    * boundaries live no longer than their plans.
    */
  private def probeCleanExact(newDocs: DataFrame, textCol: String,
      idCol: String, snap: IndexStore.Snapshot, k: Int,
      minCleanTokens: Int): (DataFrame, DataFrame) = {
    val root = snap.store.root
    val key = snap.token.filter(_ => inMemory(newDocs)).map(t =>
      ProbeKey(t, newDocs.queryExecution.analyzed.canonicalized, textCol,
        idCol, k, minCleanTokens))
    Option(probes.get(root)).filter(p => key.contains(p.key)) match {
      case Some(p) => (p.cleaned, p.exact)
      case None => Stage.described(newDocs.sparkSession, "curate: probe") {
        val gated = newDocs.filter(TextFunctions.gopherKeep(col(textCol)))
        val cleaned = SubstringDedup
          .cleanedTextIncremental(gated, IndexStore.Ref(snap, "windows"),
            textCol, idCol, k)
          .filter(TextFunctions.tokenCount(col("cleaned")) >= minCleanTokens)
          .stageBoundary
        val exact = Dedup.exactDedupIncremental(
          cleaned, IndexStore.Ref(snap, "fingerprints"), "cleaned", idCol)
          .stageBoundary
        key match {
          case Some(pk) => probes.put(root, Probe(pk, cleaned, exact))
          case None => probes.computeIfPresent(root, (_, p) =>
            if (snap.token.contains(p.key.token)) p else null)
        }
        (cleaned, exact)
      }
    }
  }

  private final case class ProbeKey(token: String, plan: LogicalPlan,
      textCol: String, idCol: String, k: Int, minCleanTokens: Int)

  private final case class Probe(key: ProbeKey, cleaned: DataFrame,
      exact: DataFrame)

  /** the last remembered probe per store root */
  private val probes =
    new java.util.concurrent.ConcurrentHashMap[String, Probe]()

  private def inMemory(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectLeaves().forall {
      case _: LocalRelation | _: LogicalRDD => true
      case _ => false
    }

  /** Fold a processed increment into the index family so the NEXT
    * increment dedups against history ∪ this one — the index-maintenance
    * half of the daily-ingest loop. The four parts' rows land in one
    * appended [[graft.IndexStore]] version (duplicate fingerprints/
    * windows are harmless to the semi/anti-join probes), so a probe
    * sees the whole increment or none of it, and a failed append
    * leaves nothing a retry must clean up by hand. The four parts are
    * written concurrently.
    *
    * The parts derive from the increment probed against the family
    * BEFORE the append: an increment must never see its own windows or
    * fingerprints as history. When a [[curateV2Incremental]] of the same
    * increment just probed the same store state, that probe is reused
    * (the rule is at `probeCleanExact`); otherwise the append probes
    * the state it appends to.
    */
  def curateV2AppendIndexes(newDocs: DataFrame, textCol: String,
      idCol: String, dir: String, k: Int = 8,
      minCleanTokens: Int = 10): Unit =
    curateV2AppendIndexes(newDocs, textCol, idCol,
      IndexStore(newDocs.sparkSession, dir), k, minCleanTokens, None)

  /** [[curateV2AppendIndexes]] into `family`; with `key`, a no-op when
    * that key's append is already visible */
  private[graft] def curateV2AppendIndexes(newDocs: DataFrame,
      textCol: String, idCol: String, family: IndexStore, k: Int,
      minCleanTokens: Int, key: Option[Long]): Unit = {
    val snap = family.snapshot()
    val (cleaned, exact) =
      probeCleanExact(newDocs, textCol, idCol, snap, k, minCleanTokens)
    val survivors = exact.select(col(idCol), col("cleaned"))
    def write(part: String)(f: => Unit): Unit =
      Stage.described(newDocs.sparkSession, s"curate: append $part")(f)
    snap.append(curationParts(k), key) { at =>
      joined { fork =>
        fork(write("windows")(SubstringDedup.windowRows(
          newDocs.filter(TextFunctions.gopherKeep(col(textCol))),
          textCol, idCol, k).write.parquet(at("windows"))))
        fork(write("fingerprints")(Dedup.fingerprintRows(cleaned, "cleaned")
          .write.parquet(at("fingerprints"))))
        fork(write("exact_docs")(survivors.write.parquet(at("exact_docs"))))
        write("bands")(Dedup.writeBands(survivors, "cleaned", idCol,
          at("bands"), CurationN, CurationPerms, CurationBands))
      }
    }
    probes.remove(family.root)
  }

  /** Leakage-safe train/validation/test split: every member of a
    * near-duplicate cluster lands in its CANONICAL's split, so a
    * training doc can never have a near-copy sitting in validation or
    * test — the standard train/test-leakage guard a naive per-doc hash
    * split silently violates (a 0.95-jaccard pair splits apart with
    * probability ≈ 1 − Σ pᵢ²).
    *
    * Shape: the guard costs exactly the near-dup clustering — the
    * collapsed cluster-edge graph ([[Dedup.ngramJaccardClusterEdges]],
    * O(duplicates) edges, never member-pair cliques) closed by
    * [[Dedup.resolveClusters]]; the split itself is a map-side hash of
    * the canonical id (portable md5 reduction, replayable by the
    * oracle), no shuffle beyond the closure. Singletons (the ~entire
    * corpus) hash their own id — identical to the naive split wherever
    * no near-dup exists.
    *
    * Returns (`idCol`, canonical, bucket, split) with buckets in
    * [0, 100): [0, trainPct) → train, [trainPct, trainPct+valPct) →
    * validation, rest → test.
    */
  def leakageSafeSplit(docs: DataFrame, textCol: String, idCol: String,
      n: Int = 3, minJaccard: Double = 0.8,
      trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct < 100,
      s"split percentages must partition [0,100): train=$trainPct val=$valPct")
    val edges = Dedup.ngramJaccardClusterEdges(docs, textCol, idCol,
      n, minJaccard)
    val clusters = Dedup.resolveClusters(edges, docs, idCol)
    val bucket = conv(substring(
      md5(concat(lit("split:"), col("canonical").cast("string"))), 1, 15),
      16, 10).cast("long") % 100
    clusters.select(col(idCol), col("canonical"),
      bucket.cast("int").as("bucket"),
      when(bucket < trainPct, "train")
        .when(bucket < trainPct + valPct, "validation")
        .otherwise("test").as("split"))
  }
}
