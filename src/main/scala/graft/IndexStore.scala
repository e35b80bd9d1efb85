package graft

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** The one on-disk protocol of every incremental index (MinHash band,
  * edit, window, fingerprint, SimHash, IVF cell, KMV sketch, and the
  * curation family that holds four of them): when an append or a
  * rebuild becomes visible, and with which build parameters.
  *
  * A store at `root` is a [[Commit.Versions]] sequence
  * `root/index_version=<N>`, each behind its commit marker. A version
  * is staged in a hidden temp dir and becomes visible only when its
  * marker lands, so a reader never sees a half-written append. A
  * version may hold several named [[IndexStore.Part]]s
  * (`index_version=<N>/index_part=<name>`; the part `""` is the
  * version dir itself), and one marker commits them all. The dirs are
  * named like partitions so that a probe reads a part's visible
  * versions as ONE relation, with the index's own band or cell
  * partitions below them keeping their pruning.
  *
  * The latest marker is the whole state. It names `base`, the latest
  * full build (a reader sees it and every append committed after it);
  * per part, its build parameters and the versions holding its files;
  * `keys`, the batch ids whose appends are visible; and `id`, a random
  * id drawn at publish.
  *
  * A [[snapshot]] reads that state once: its probes and its append all
  * see the same versions, and its [[IndexStore.Snapshot.token]] (the
  * version plus the publish id) names the state. The version alone
  * does not: a store deleted and rebuilt at the same path counts from
  * 0 again with the same marker body.
  *
  *  - A probe ([[probe]]) and an append check the parameters they use
  *    against the store's: a mismatch fails loudly instead of silently
  *    returning wrong or empty pair sets.
  *  - A full build ([[build]]) publishes a version that supersedes
  *    every older one, which is then reclaimed.
  *  - A write keyed on a streaming batch id that is already visible is
  *    a no-op, so `foreachBatch`'s at-least-once replay folds each batch
  *    once. Whatever an uncommitted attempt left (temp dirs, unmarked
  *    versions) is swept before any write.
  *  - A directory with no committed version and no data files is an
  *    empty store: a probe fails, except through a store opened with
  *    [[IndexStore.streaming]], where it reads as empty history (a
  *    streaming face's first batch). A directory that holds data files
  *    but no committed version is refused, never read as empty.
  *
  * One writer per store, as for every [[Commit]] protocol: a second
  * writer fails loudly at the version guard. Nothing compacts yet: the
  * file count grows with the appends until a full build.
  */
final class IndexStore private (spark: SparkSession, val root: String,
    absentIsEmpty: Boolean) {
  import IndexStore._

  private val fs = Commit.fs(spark, root)
  private val rootPath = new HPath(root)
  private val versions =
    new Commit.Versions(fs, root, VersionPrefix, s"index store $root")

  private def versionOf(name: String): Option[Long] =
    if (!name.startsWith(VersionPrefix)) None
    else scala.util.Try(name.drop(VersionPrefix.length).toLong).toOption

  // hidden from parquet readers, which do read `_x=y` partition dirs
  private def hidden(name: String) = name.startsWith(".") ||
    name.startsWith("_") && !name.contains("=")

  private def hasDataFile(dir: HPath): Boolean = {
    val it = fs.listFiles(dir, true)
    Iterator.continually(it).takeWhile(_.hasNext)
      .exists(i => !hidden(i.next().getPath.getName))
  }

  /** the latest committed state, None for an empty store */
  private def current(): Option[State] = versions.latest match {
    case Some(v) => Some(State.parse(v, versions.marker(v)))
    case None =>
      require(!fs.exists(rootPath) || !fs.listStatus(rootPath).exists { s =>
        val n = s.getPath.getName
        !hidden(n) && versionOf(n).isEmpty &&
          (s.isFile || hasDataFile(s.getPath))
      }, s"$root holds data files but no committed index version: " +
        "refusing to read it as an index; rebuild it into an empty directory")
      None
  }

  private def committed(): State = {
    val state = current()
    require(state.nonEmpty, s"no committed index at $root")
    state.get
  }

  /** one read of the latest committed state (see the class doc) */
  def snapshot(): Snapshot = new Snapshot(this, current())

  /** true when no version is committed (a streaming face's first batch) */
  def isEmpty: Boolean = current().isEmpty

  /** True when the write keyed on `key` is visible: a replay, which
    * must not run again. It finishes the sweep that a crash after that
    * commit may have cut short.
    */
  def replayed(key: Long): Boolean = {
    val state = current()
    state.exists(_.keys.contains(key)) && { sweep(state); true }
  }

  /** Drop what no reader can see: temp dirs, version dirs without a
    * marker, and versions below the latest full build (marker first,
    * so a crash mid-sweep never leaves a marker over missing data).
    */
  private def sweep(state: Option[State]): Unit =
    if (fs.exists(rootPath)) {
      val marked = versions.committed.toSet
      val base = state.fold(Long.MaxValue)(_.base)
      val names = fs.listStatus(rootPath).toSeq.map(_.getPath.getName)
      names.filter(n => n.startsWith(s".$VersionPrefix") &&
        n.contains(".tmp-"))
        .foreach(n => fs.delete(new HPath(rootPath, n), true))
      (names.flatMap(versionOf) ++ marked).distinct
        .filter(v => v < base || !marked(v)).foreach(versions.drop)
    }

  private def check(state: State, part: Part): Unit = {
    val stored = state.parts.get(part.name).map(_.params)
    val expected = render(part.params)
    require(stored.contains(expected), s"index at $root" +
      (if (part.name.isEmpty) "" else s"/${part.name}") + " was built " +
      s"with ${stored.getOrElse("no such part")} but probed with " +
      s"$expected — rebuild the index or match its parameters")
  }

  /** Full build: write every part of a new version into the staged
    * dirs `write` is handed (part name → dir) and publish it; it
    * supersedes all older versions, which are reclaimed.
    */
  def build(parts: Seq[Part], key: Option[Long] = None)(
      write: (String => String) => Unit): Unit =
    publish(current(), parts, key, full = true)(write)

  /** Append a version holding `parts`, visible together with the
    * current ones (on an empty store it is the base). Each part's
    * params must equal the store's.
    */
  def append(parts: Seq[Part], key: Option[Long] = None)(
      write: (String => String) => Unit): Unit =
    snapshot().append(parts, key)(write)

  /** publish the version after `state`, which must still be the latest */
  private def publish(state: Option[State], parts: Seq[Part],
      key: Option[Long], full: Boolean)(
      write: (String => String) => Unit): Unit = {
    sweep(state)
    if (key.exists(k => state.exists(_.keys.contains(k)))) return
    val v = state.fold(0L)(_.v + 1)
    val id = Some(java.util.UUID.randomUUID().toString)
    val next = state match {
      case Some(s) if !full =>
        parts.foreach(check(s, _))
        s.copy(v = v, keys = s.keys ++ key, parts = s.parts ++ parts.map {
          p => p.name -> s.parts(p.name).add(v) }, id = id)
      case _ => State(v, v, key.toSeq, parts.map(p =>
        p.name -> PartState(render(p.params), Seq(v))).toMap, id)
    }
    versions.publish(v, state.map(_.v), vacuum = full, body = next.render)(
      d => write(partDir(d.toString, _)))
  }

  /** `part`'s rows in every visible version that holds it, as one
    * relation: the version and part dir names are partition columns
    * under `root`, dropped after the read */
  private def rows(state: State, part: String, schema: String): DataFrame = {
    val r = spark.read.option("basePath", root)
    (if (schema == null) r else r.schema(schema))
      .parquet(state.parts(part).versions.map(v =>
        partDir(versions.dir(v).toString, part)): _*)
      .drop(VersionCol, PartCol)
  }

  /** A probe's read of `part` in the latest state, with `params`
    * checked against the store's; `schema` (DDL) when given. An empty
    * store fails, or — opened with [[IndexStore.streaming]] — reads
    * `empty`, by default an empty frame of `schema`.
    */
  def probe(part: String, params: Seq[(String, String)],
      schema: String = null, empty: => DataFrame = null): DataFrame =
    snapshot().probe(part, params, schema, empty)

  private def probe(state: Option[State], part: String,
      params: Seq[(String, String)], schema: String,
      empty: => DataFrame): DataFrame = state match {
    case Some(s) =>
      check(s, Part(part, params))
      rows(s, part, schema)
    case None =>
      require(absentIsEmpty, s"no committed index at $root")
      Option(empty).getOrElse(spark.createDataFrame(
        java.util.Collections.emptyList[Row](), StructType.fromDDL(schema)))
  }

  /** the committed rows of `part`, unchecked — for inspection */
  def read(part: String = ""): DataFrame = rows(committed(), part, null)

  /** the latest full build's version dir: where side files written
    * with it (the IVF quantizer) live */
  def baseDir: String = versions.dir(committed().base).toString
}

object IndexStore {

  // partition-style dir names, distinct from any index column
  private val VersionCol = "index_version"
  private val VersionPrefix = s"$VersionCol="
  private val PartCol = "index_part"

  /** a named part of a version and its build parameters */
  final case class Part(name: String, params: Seq[(String, String)])

  /** One read of a store's latest committed state: every probe and the
    * append made through it see the same versions. */
  final class Snapshot private[IndexStore] (val store: IndexStore,
      state: Option[State]) {
    /** names the state: its version and publish id; None for an empty
      * store or a marker written without an id */
    val token: Option[String] =
      state.flatMap(s => s.id.map(id => s"${s.v}:$id"))

    /** [[IndexStore.probe]] on this state */
    def probe(part: String, params: Seq[(String, String)],
        schema: String = null, empty: => DataFrame = null): DataFrame =
      store.probe(state, part, params, schema, empty)

    /** [[IndexStore.append]] on this state: it fails at the version
      * guard if another version was committed since the read */
    def append(parts: Seq[Part], key: Option[Long] = None)(
        write: (String => String) => Unit): Unit =
      store.publish(state, parts, key, full = false)(write)
  }

  /** one part of a store snapshot: where a probe reads an index */
  final case class Ref(snapshot: Snapshot, part: String = "") {
    def probe(params: Seq[(String, String)], schema: String = null,
        empty: => DataFrame = null): DataFrame =
      snapshot.probe(part, params, schema, empty)
  }

  def apply(spark: SparkSession, root: String): IndexStore =
    new IndexStore(spark, root, absentIsEmpty = false)

  /** the single-part store at `root`, as it is now */
  def at(spark: SparkSession, root: String): Ref =
    Ref(apply(spark, root).snapshot())

  /** a streaming face's store: until its first commit, probes read it
    * as empty history */
  private[graft] def streaming(spark: SparkSession, root: String): IndexStore =
    new IndexStore(spark, root, absentIsEmpty = true)

  private def partDir(versionDir: String, part: String): String =
    if (part.isEmpty) versionDir else s"$versionDir/$PartCol=$part"

  private def render(params: Seq[(String, String)]): String =
    params.map { case (k, v) =>
      "\"" + k + "\":\"" + v.replace("\\", "\\\\").replace("\"", "\\\"")
        .replace("\n", "\\n").replace("\t", "\\t") + "\""
    }.mkString("{", ",", "}")

  private final case class PartState(params: String, versions: Seq[Long]) {
    def add(v: Long): PartState = copy(versions = versions :+ v)
  }

  /** the state a version's marker names (see the class doc): lines
    * `base=<v>`, `keys=<ids>`, `id=<publish id>` and
    * `part<TAB>name<TAB>versions<TAB>params` */
  private final case class State(v: Long, base: Long, keys: Seq[Long],
      parts: Map[String, PartState], id: Option[String]) {
    def render: String = (Seq(s"base=$base", s"keys=${keys.mkString(",")}") ++
      id.map(i => s"id=$i") ++ parts.toSeq.sortBy(_._1).map { case (n, p) =>
        Seq("part", n, p.versions.mkString(","), p.params).mkString("\t")
      }).mkString("\n")
  }

  private object State {
    private def longs(s: String) =
      s.split(",").toSeq.filter(_.nonEmpty).map(_.toLong)

    def parse(v: Long, text: String): State = {
      val lines = text.split("\n").toSeq
      def field(k: String) = lines.collectFirst {
        case l if l.startsWith(s"$k=") => l.drop(k.length + 1)
      }
      require(field("base").nonEmpty, s"index version $v: marker names no base")
      State(v, field("base").get.toLong, longs(field("keys").getOrElse("")),
        lines.filter(_.startsWith("part\t")).map { l =>
          val Array(_, n, vs, p) = l.split("\t", 4)
          n -> PartState(p, longs(vs))
        }.toMap, field("id"))
    }
  }
}
