package graft

import org.apache.hadoop.fs.{FileSystem, Path}

/** Versioned directories: the one publish protocol for a root whose
  * contents are replaced whole while readers may be scanning them — a
  * changelog sink ([[graft.cdc.SinkLayout]]) and persisted sketch state or
  * a generational serving layout ([[graft.streaming.StateStream]]).
  *
  * {{{
  *   <root>/
  *     data_v<N>/              version N
  *     data_v<N>/_PUBLISHED    its stamp; current = the max N stamped
  *     _stage_v<N+1>/          the next version while it is written
  * }}}
  *
  * A publish writes the next version into its stage (underscore-prefixed,
  * so Spark's listing skips it), creates the stamp INSIDE the stage so the
  * stamp rides the rename, renames the stage to `data_v<N+1>` — the one
  * visibility flip, a single atomic rename — and then retires every
  * version older than N. The superseded version N is kept for one publish
  * cycle: a reader that resolved (and even planned) against it before the
  * flip finishes on intact files, and only a reader holding a plan across
  * two publishes can lose them. A crash at any step leaves the current
  * version readable: a stale stage or an unstamped `data_v<N+1>` is never
  * resolved and is cleared by the next publish, which also retires what a
  * crashed retire left. (Directory rename is atomic on local and HDFS
  * filesystems; an object store needs a manifest committer here.)
  *
  * No Spark job runs here, and the caller serializes writers.
  */
private[graft] object Versions {

  final case class Version(n: Int, dir: Path)

  private val DirRe = "data_v(\\d+)".r
  private val Stamp = "_PUBLISHED"

  def dir(root: Path, n: Int): Path = new Path(root, s"data_v$n")

  def stage(root: Path, n: Int): Path = new Path(root, s"_stage_v$n")

  /** Every version dir under `root`, stamped or not, newest first. */
  def all(fs: FileSystem, root: Path): Seq[Version] =
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq.flatMap { st =>
      st.getPath.getName match {
        case DirRe(n) if st.isDirectory => Some(Version(n.toInt, dir(root, n.toInt)))
        case _ => None
      }
    }.sortBy(-_.n)

  /** The current version: the newest one carrying its stamp. */
  def current(fs: FileSystem, root: Path): Option[Version] =
    all(fs, root).find(v => fs.exists(new Path(v.dir, Stamp)))

  /** Publish the version after `cur` (the caller's [[current]]): clear a
    * crashed attempt at it, let `write` fill the stage, stamp, rename,
    * retire. Returns `write`'s value and the new version. */
  def publish[A](fs: FileSystem, root: Path, cur: Option[Version])(
      write: Path => A): (A, Version) = {
    val n = cur.fold(1)(_.n + 1)
    val next = Version(n, dir(root, n))
    val staged = stage(root, n)
    fs.delete(staged, true)
    fs.delete(next.dir, true)
    val a = write(staged)
    fs.create(new Path(staged, Stamp), true).close()
    require(fs.rename(staged, next.dir), s"version publish rename $staged -> ${next.dir} failed")
    all(fs, root).filter(_.n < n - 1).foreach(v => fs.delete(v.dir, true))
    (a, next)
  }
}
