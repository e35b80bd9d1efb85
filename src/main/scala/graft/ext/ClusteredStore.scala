package graft.ext

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Incrementally maintained Z-ordered corpus store — the lakehouse
  * append + OPTIMIZE loop ([[CorpusSink.writeZOrdered]]'s layout, kept
  * alive under a stream of increments): new data lands in cheap
  * unclustered DELTA dirs; a periodic [[compact]] rewrites everything
  * into a fresh clustered BASE epoch. Readers always see base ∪
  * committed deltas, so data-skipping degrades gracefully (the base —
  * the overwhelming share after each compact — stays narrow per file;
  * deltas scan until folded in) instead of forcing a cluster-on-write
  * exchange into every increment.
  *
  * Crash-safety is [[graft.Commit]]'s named markers: a dir without its
  * commit marker is invisible to [[read]], commits are one marker-file
  * create, and a crashed attempt's orphan data is reclaimed by
  * [[vacuum]]. [[compact]] commits the new epoch BEFORE
  * vacuuming the old, so a crash between the two leaves a readable
  * store plus garbage, never a torn view. Single writer per store
  * (the catalog DML contract); all file ops go through the Hadoop FS
  * API so the store is object-store portable.
  */
object ClusteredStore {

  private def fs(spark: SparkSession, p: HPath): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def markers(spark: SparkSession, root: String) =
    graft.Commit.commits(graft.Commit.fs(spark, root), root)

  private def committed(spark: SparkSession, root: String): Set[String] =
    markers(spark, root).names.toSet

  private def commit(spark: SparkSession, root: String, name: String): Unit =
    markers(spark, root).create(name)

  /** max committed base epoch, or -1 before [[create]] */
  private def currentBase(spark: SparkSession, root: String): Long = {
    val bases = committed(spark, root)
      .filter(_.startsWith("base_")).map(_.drop(5).toLong)
    if (bases.isEmpty) -1L else bases.max
  }

  private def deltaNames(spark: SparkSession, root: String,
      base: Long): Seq[String] =
    committed(spark, root).filter(_.startsWith(s"d${base}_")).toSeq.sorted

  /** next unused dir index for `prefix` — counts EXISTING dirs, not
    * just committed ones, so a crashed attempt's orphan is never
    * overwritten (it stays invisible until [[vacuum]]) */
  private def nextIndex(spark: SparkSession, root: String,
      prefix: String): Long = {
    val dir = new HPath(root)
    val f = fs(spark, dir)
    if (!f.exists(dir)) 0L
    else {
      val used = f.listStatus(dir).map(_.getPath.getName)
        .filter(n => n.startsWith(prefix) &&
          n.drop(prefix.length).forall(_.isDigit))
        .map(_.drop(prefix.length).toLong)
      if (used.isEmpty) 0L else used.max + 1
    }
  }

  /** initialize the store: epoch 0 is `df` clustered on `dims` */
  def create(spark: SparkSession, root: String, df: DataFrame,
      dims: Seq[String], bits: Int = 8,
      maxRecordsPerFile: Int = 1000000): Unit = {
    require(currentBase(spark, root) < 0,
      s"clustered store at $root already exists")
    CorpusSink.writeZOrdered(df, s"$root/base_0", dims, bits,
      maxRecordsPerFile)
    commit(spark, root, "base_0")
  }

  /** bootstrap an EMPTY epoch 0 with `schemaLike`'s schema when no
    * store exists yet (no-op otherwise) — the idempotent first step a
    * streaming sink needs: `create` itself refuses to run twice, but a
    * replayed first batch must not re-create or double-ingest, so the
    * stream bootstraps empty and ingests every batch through the
    * tagged-append path */
  def ensure(spark: SparkSession, root: String, schemaLike: DataFrame,
      dims: Seq[String], bits: Int = 8,
      maxRecordsPerFile: Int = 1000000): Unit =
    if (currentBase(spark, root) < 0)
      create(spark, root, schemaLike.limit(0), dims, bits, maxRecordsPerFile)

  /** append an increment as an unclustered delta of the current base —
    * one plain parquet write + one marker create, no exchange. A `tag`
    * names the delta deterministically (`d<base>_t<tag>`) AND records
    * an epoch-independent `applied_t<tag>` marker: appending a tag
    * that was ever applied is a no-op EVEN ACROSS A COMPACTION (the
    * delta's own marker is namespaced per base and vacuums with it,
    * so without the applied ledger a crash between compact and the
    * stream checkpoint would double-ingest the replayed batch). A
    * crashed attempt's uncommitted dir is overwritten by the retry.
    * Untagged appends auto-number. Applied markers are one empty file
    * per tag and are retained by [[vacuum]] for the store's lifetime.
    */
  def append(spark: SparkSession, root: String, df: DataFrame,
      tag: Option[String] = None): Unit = {
    val base = currentBase(spark, root)
    require(base >= 0, s"no clustered store at $root — call create first")
    val name = tag match {
      case Some(t) =>
        require(t.nonEmpty && t.forall(c => c.isLetterOrDigit || c == '-'),
          s"delta tag must be alphanumeric/dash: $t")
        s"d${base}_t$t"
      case None => s"d${base}_${nextIndex(spark, root, s"d${base}_")}"
    }
    val already = committed(spark, root)
    val applied = tag.map(t => s"applied_t$t")
    if (applied.exists(already.contains)) return
    if (already.contains(name)) {
      // delta committed but the applied marker missed (crash between
      // the two creates) — heal the ledger, rows are already in
      applied.foreach(commit(spark, root, _))
      return
    }
    // schema drift guard: silently appending a differing schema would
    // poison every later read/compact with merge surprises — refuse
    // loudly (names + types compared positionally, metadata ignored)
    val baseSchema = spark.read.parquet(s"$root/base_$base").schema
    val incoming = df.schema
    require(
      baseSchema.map(f => (f.name, f.dataType)) ==
        incoming.map(f => (f.name, f.dataType)),
      s"append schema mismatch: store has ${baseSchema.simpleString}, " +
        s"increment has ${incoming.simpleString}")
    df.write.mode("overwrite").parquet(s"$root/$name")
    commit(spark, root, name)
    applied.foreach(commit(spark, root, _))
  }

  /** the live view: current base ∪ its committed deltas */
  def read(spark: SparkSession, root: String): DataFrame = {
    val base = currentBase(spark, root)
    require(base >= 0, s"no clustered store at $root")
    val dirs = s"$root/base_$base" +:
      deltaNames(spark, root, base).map(n => s"$root/$n")
    spark.read.parquet(dirs: _*)
  }

  /** committed delta rows awaiting compaction — the compaction-policy
    * signal ("compact when deltas exceed x% of the base") */
  def deltaRows(spark: SparkSession, root: String): Long = {
    val base = currentBase(spark, root)
    val ds = deltaNames(spark, root, base)
    if (ds.isEmpty) 0L
    else spark.read.parquet(ds.map(n => s"$root/$n"): _*).count()
  }

  /** fold base + deltas into a fresh clustered epoch; superseded
    * epochs beyond `retainEpochs` (plus any orphans) vacuum AFTER the
    * new epoch commits. `retainEpochs` > 1 keeps older compacted
    * snapshots readable via [[readEpoch]] — time travel at compaction
    * granularity (a retained epoch is the store as of ITS compact;
    * its since-folded deltas are not kept separately).
    */
  def compact(spark: SparkSession, root: String, dims: Seq[String],
      bits: Int = 8, maxRecordsPerFile: Int = 1000000,
      retainEpochs: Int = 1): Unit = {
    val base = currentBase(spark, root)
    require(base >= 0, s"no clustered store at $root")
    val next = base + 1
    CorpusSink.writeZOrdered(read(spark, root), s"$root/base_$next",
      dims, bits, maxRecordsPerFile)
    commit(spark, root, s"base_$next")
    vacuum(spark, root, retainEpochs)
  }

  /** committed compacted snapshots, oldest first */
  def epochs(spark: SparkSession, root: String): Seq[Long] =
    committed(spark, root).filter(_.startsWith("base_"))
      .map(_.drop(5).toLong).toSeq.sorted

  /** a RETAINED compacted snapshot (no deltas — the store as of that
    * epoch's compact); the current epoch is `epochs.last` */
  def readEpoch(spark: SparkSession, root: String, epoch: Long): DataFrame = {
    require(epochs(spark, root).contains(epoch),
      s"epoch $epoch not retained at $root (have ${epochs(spark, root)})")
    spark.read.parquet(s"$root/base_$epoch")
  }

  /** delete every data dir that is not one of the newest
    * `retainEpochs` committed bases or the CURRENT base's committed
    * deltas, and drop superseded commit markers — removes old epochs
    * after [[compact]] and any crashed attempt's orphans. Idempotent;
    * safe to re-run after a crash mid-vacuum.
    */
  def vacuum(spark: SparkSession, root: String,
      retainEpochs: Int = 1): Unit = {
    require(retainEpochs >= 1, "retainEpochs must be >= 1")
    val bases = epochs(spark, root)
    require(bases.nonEmpty, s"no clustered store at $root")
    val keepBases = bases.takeRight(retainEpochs)
    val keep = keepBases.map(b => s"base_$b").toSet ++
      deltaNames(spark, root, bases.max)
    val dir = new HPath(root)
    val f = fs(spark, dir)
    f.listStatus(dir).map(_.getPath)
      .filter { p =>
        val n = p.getName
        !n.startsWith("_") && !keep(n)
      }
      .foreach(p => f.delete(p, true))
    val marks = markers(spark, root)
    marks.names
      // applied_t* is the epoch-independent replay ledger — it must
      // outlive the base whose delta it tagged (see [[append]])
      .filter(n => !keep(n) && !n.startsWith("applied_"))
      .foreach(marks.remove)
  }
}
