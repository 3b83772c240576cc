package graft

import org.apache.hadoop.fs.{FileSystem, Path}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Committing a snapshot version that already exists — the loser of a
  * concurrent commit race must reload and retry, never clobber.
  */
final class SnapshotConflictException(msg: String)
    extends java.io.IOException(msg)

/** An append-only log of immutable JSON versions `dir/vNNNNN.json`, the one
  * commit protocol of table snapshots ([[ManifestIO]]) and of the minhash
  * index ([[MinhashIndex]]), Iceberg's: a version becomes visible by one
  * atomic rename of its `.vNNNNN.json.tmp` and never changes after. Each
  * caller owns its JSON; `what` names the versions in errors.
  */
final class VersionLog(fs: FileSystem, dir: Path, what: String) {
  private def path(v: Int) = new Path(dir, f"v$v%05d.json")

  /** The committed versions, from one listing (none when `dir` is absent). */
  def versions: Seq[Int] =
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".json"))
      .map(n => n.stripPrefix("v").stripSuffix(".json").toInt)

  def latest: Option[JsonNode] = versions.maxOption.map(read)

  /** Version `v`, None when it was never committed or has expired. */
  def at(v: Int): Option[JsonNode] = if (fs.exists(path(v))) Some(read(v)) else None

  private def read(v: Int): JsonNode = {
    val in = fs.open(path(v))
    try new ObjectMapper().readTree(in) finally in.close()
  }

  /** Commit `json` as version `v`. HDFS and object stores fail a rename onto
    * an existing file, but the local file system's overwrites it: an
    * existing version fails closed here, so a losing committer never
    * clobbers.
    */
  def commit(v: Int, json: String): Unit = {
    fs.mkdirs(dir)
    val dst = path(v)
    if (fs.exists(dst))
      throw new SnapshotConflictException(s"$what v$v already committed in ${dir.getParent} — " +
        "reload the latest version and retry the commit")
    val tmp = new Path(dir, f".v$v%05d.json.tmp")
    val out = fs.create(tmp, true)
    try out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8)) finally out.close()
    if (!fs.rename(tmp, dst)) throw new java.io.IOException(s"$what commit failed: $tmp -> $dst")
  }

  /** Delete every version but the newest `keepLast`; returns how many. */
  def expire(keepLast: Int): Int = {
    val old = versions.sorted.dropRight(keepLast)
    old.foreach(v => fs.delete(path(v), false))
    old.length
  }
}

object VersionLog {
  /** Size-tiered merging (LSM-style) of the table's compacted runs and the
    * index's data versions: while the newest of `sizes(s)` (oldest first)
    * is at least half its predecessor, `merge` folds the two newest. Sizes
    * end geometric, so their count stays logarithmic in the total.
    */
  @annotation.tailrec
  def tiered[S](s: S)(sizes: S => Seq[Long])(merge: S => S): S = {
    val z = sizes(s)
    if (z.length >= 2 && z.last * 2 >= z(z.length - 2)) tiered(merge(s))(sizes)(merge) else s
  }
}
