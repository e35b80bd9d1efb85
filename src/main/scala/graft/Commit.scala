package graft

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.SparkSession

/** The publish-and-recover decision for every index this engine
  * persists. GraphView hands each batch to SQL Server, which commits
  * it; here the state is plain parquet, so this module owns the commit.
  * All file operations go through the Hadoop FileSystem API (file:,
  * hdfs:, s3a: alike). Both protocols assume one writer per store.
  *
  * '''Directory swap''' ([[swap]], [[recover]]): the new contents are
  * written to a `tmp` sibling; then a `marker` file is created, the live
  * dir moves aside to `bak`, `tmp` is renamed into place, and `bak` and
  * the marker go, marker last. So a `bak` never exists without its
  * marker, and recovery decides every crash point: marker with the live
  * dir present → the live dir is authoritative, drop the leftovers;
  * marker without it → the crash hit between the renames, restore `bak`.
  *
  * '''Versioned state''' ([[Versions]]): immutable versions
  * `<root>/<prefix><v>`, each visible once its marker
  * `<root>/_commits/<prefix><v>` exists, so readers of the latest
  * committed version never see a half-written one. A version is written
  * to a writer-unique hidden temp dir, renamed into place and committed
  * by an exclusive marker create. A committed version is never written
  * again, which makes a replay keyed on a batch id idempotent. A second
  * writer fails loudly instead of losing an update: the parent version
  * the new state was derived from must still be the latest before the
  * write and before the rename, and the marker create fails if the
  * version was committed meanwhile.
  *
  * '''Markers''' ([[Markers]]): named files in one directory — the
  * `_commits/` markers above, and the replay ledger's.
  */
object Commit {

  def fs(spark: SparkSession, path: String): FileSystem =
    new HPath(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def rename(fs: FileSystem, src: HPath, dst: HPath,
      what: String): Unit =
    require(fs.rename(src, dst), s"$what: cannot rename $src to $dst")

  // ---- directory swap ----

  /** the live dir of one swap and its three siblings */
  final case class Swap(dst: HPath, tmp: HPath, bak: HPath, marker: HPath)

  object Swap {
    /** `<dir>/.<name>_tmp|_bak|_swap`: hidden from readers of `dir` */
    def hidden(dir: String, name: String): Swap = Swap(
      new HPath(s"$dir/$name"), new HPath(s"$dir/.${name}_tmp"),
      new HPath(s"$dir/.${name}_bak"), new HPath(s"$dir/.${name}_swap"))
  }

  /** Replace `s.dst` with what `writeTmp` writes to `s.tmp`. An earlier
    * interrupted swap is recovered first, so its `bak` is never mistaken
    * for garbage.
    */
  def swap(fs: FileSystem, s: Swap)(writeTmp: => Unit): Unit = {
    recover(fs, s)
    fs.delete(s.tmp, true)
    fs.delete(s.bak, true)
    writeTmp
    fs.create(s.marker, true).close()
    if (fs.exists(s.dst)) rename(fs, s.dst, s.bak, "swap")
    rename(fs, s.tmp, s.dst, "swap")
    fs.delete(s.bak, true)
    fs.delete(s.marker, false)
  }

  /** Resolve an interrupted [[swap]]; a no-op when no marker exists.
    * Idempotent: the marker goes last, so a crash here is recovered by
    * the next call.
    */
  def recover(fs: FileSystem, s: Swap): Unit =
    if (fs.exists(s.marker)) {
      if (!fs.exists(s.dst) && fs.exists(s.bak))
        rename(fs, s.bak, s.dst, "swap recovery")
      fs.delete(s.bak, true)
      fs.delete(s.tmp, true)
      fs.delete(s.marker, false)
    }

  // ---- markers ----

  /** named marker files in `dir` */
  final class Markers(fs: FileSystem, val dir: HPath) {
    private def path(name: String) = new HPath(dir, name)

    def names: Seq[String] =
      if (!fs.exists(dir)) Seq.empty
      else fs.listStatus(dir).toSeq.map(_.getPath.getName)

    def has(name: String): Boolean = fs.exists(path(name))

    /** with `overwrite = false` the create is exclusive: it throws if
      * the marker already exists */
    def create(name: String, body: String = "",
        overwrite: Boolean = true): Unit = {
      fs.mkdirs(dir)
      val out = fs.create(path(name), overwrite)
      try out.write(body.getBytes("UTF-8")) finally out.close()
    }

    def remove(name: String): Unit = fs.delete(path(name), false)

    def read(name: String): String = {
      val in = fs.open(path(name))
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }
  }

  /** the `<root>/_commits` markers */
  def commits(fs: FileSystem, root: String): Markers =
    new Markers(fs, new HPath(s"$root/_commits"))

  // ---- versioned state ----

  /** Versions `<root>/<prefix><v>` behind `_commits/<prefix><v>`
    * markers; `what` names the store in error messages.
    */
  final class Versions(fs: FileSystem, root: String, prefix: String,
      what: String) {
    private val marks = commits(fs, root)
    private val Version =
      (java.util.regex.Pattern.quote(prefix) + """(\d+)""").r

    def dir(v: Long): HPath = new HPath(s"$root/$prefix$v")

    /** committed versions, ascending */
    def committed: Seq[Long] =
      marks.names.collect { case Version(v) => v.toLong }.sorted

    def latest: Option[Long] = committed.lastOption

    /** the marker text of committed version `v` */
    def marker(v: Long): String = marks.read(s"$prefix$v")

    /** `version`, or the one after the latest committed */
    def next(version: Option[Long]): Long =
      version.getOrElse(latest.fold(0L)(_ + 1))

    /** the committed versions, after checking `parent` is the latest */
    private def guard(parent: Option[Long]): Seq[Long] = {
      val c = committed
      require(c.lastOption == parent, s"$what: concurrent writer detected " +
        s"on $root — derived from version $parent but the latest is now " +
        s"${c.lastOption}; this store requires a single writer")
      c
    }

    /** Write version `v` (derived from `parent`, the latest committed
      * version when the caller read the state) through `write` and
      * commit it, unless `v` is committed already. The marker holds
      * `parent=<parent>`, then `body`. With `vacuum`, then
      * [[vacuumBelow]] `v`. `beforeMarker` is a test seam.
      */
    def publish(v: Long, parent: Option[Long], vacuum: Boolean = true,
        beforeMarker: () => Unit = () => (), body: String = "")(
        write: HPath => Unit): Unit = {
      if (guard(parent).contains(v)) return
      val d = dir(v)
      val tmp = new HPath(s"$root/.$prefix$v.tmp-" +
        java.util.UUID.randomUUID().toString.take(8))
      try {
        write(tmp)
        guard(parent)
        // a dir at `d` now is a crashed writer's uncommitted version
        // (the guard proved `v` uncommitted); replacing it also keeps
        // the rename from moving `tmp` INTO it
        if (fs.exists(d)) fs.delete(d, true)
        require(fs.rename(tmp, d), s"$what: publish of $d failed — a " +
          "concurrent writer created it after the guard re-check; this " +
          "store requires a single writer")
      } finally fs.delete(tmp, true)
      beforeMarker()
      val m = s"$prefix$v"
      try marks.create(m, s"parent=${parent.getOrElse(-1L)}\n$body",
        overwrite = false)
      catch { case e: java.io.IOException if marks.has(m) =>
        throw new IllegalArgumentException(
          s"$what: commit marker ${marks.dir}/$m already exists — a " +
            "concurrent writer committed this version; this store " +
            "requires a single writer", e)
      }
      if (vacuum) vacuumBelow(v)
    }

    /** True if `v` is already committed: a replay, which must not be
      * folded again. It finishes the vacuum that a crash after that
      * commit may have cut short.
      */
    def replayed(v: Long): Boolean = {
      val c = committed
      c.contains(v) && { vacuumBelow(c.last); true }
    }

    /** drop every version below `v`, committed or not, and every
      * orphaned temp dir */
    def vacuumBelow(v: Long): Unit = {
      val names = fs.listStatus(new HPath(root)).toSeq.map(_.getPath.getName)
      names.filter(n => n.startsWith(s".$prefix") && n.contains(".tmp-"))
        .foreach(n => fs.delete(new HPath(root, n), true))
      val dirs = names.collect { case Version(n) => n.toLong }
      (committed ++ dirs).distinct.filter(_ < v).foreach(drop)
    }

    /** drop version `v`, committed or not — marker first, so a crash
      * mid-drop never leaves a committed marker over missing data */
    def drop(v: Long): Unit = {
      marks.remove(s"$prefix$v")
      fs.delete(dir(v), true)
    }
  }
}
