package graft.sources

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.Comparator

import org.apache.spark.sql.DataFrame

/** Snapshot-overwrite protocol (SURVEY.md §5: "upsert atomicity — none in
  * plain Parquet — write new dir, swap").
  *
  * Plain `mode("overwrite")` deletes the target before writing: a reader
  * (or a crashed writer) can observe a missing/partial table. Here the
  * published `path` is a SYMLINK: each snapshot writes to a fresh
  * versioned directory (`<path>.v-<uuid>`), and publishing is ONE atomic
  * rename of a symlink over the old one — there is no instant at which
  * `path` is missing or partial, and a crash at any point leaves the
  * previous snapshot published (at worst plus an unpublished version
  * directory, removed by the next successful publish's cleanup). This is
  * the batch analogue of the reference's transactional Postgres upserts.
  *
  * On a cluster the same protocol runs against an object store via a
  * manifest/table-format commit (Iceberg/Delta-style); the symlink swap is
  * the local-filesystem form of that commit pointer.
  */
object SnapshotSink {

  /** Publish `df` at `path` (a symlink managed by this sink).
    * `partitionBy` keys the snapshot's directory layout (e.g. an IVF
    * inverted file partitioned by list id) — readers prune partitions
    * exactly as with any partitioned parquet table.
    */
  def overwrite(df: DataFrame, path: String, partitionBy: Seq[String] = Nil): Unit = {
    val target  = Paths.get(path)
    require(!Files.exists(target) || Files.isSymbolicLink(target),
      s"snapshot target $path exists but is not a sink-managed symlink")
    val version = Paths.get(path + ".v-" + java.util.UUID.randomUUID())
    val prior: Option[Path] =
      if (Files.isSymbolicLink(target)) Some(Files.readSymbolicLink(target)) else None

    try df.write.partitionBy(partitionBy: _*).parquet(version.toString)
    catch { case e: Throwable => deleteRecursively(version); throw e }

    // Atomic publish: rename a fresh symlink over the target.
    val tmpLink = Paths.get(path + ".lnk-" + java.util.UUID.randomUUID())
    Files.createSymbolicLink(tmpLink, version.getFileName)
    Files.move(tmpLink, target, StandardCopyOption.ATOMIC_MOVE)

    // Retire the previous version only after the new one is live.
    prior.foreach(p => deleteRecursively(target.getParent.resolve(p)))
  }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally st.close() // directory-stream fd, leaked per call otherwise
    }

  /** VERSIONED publish — the TIME-TRAVEL form of [[overwrite]]: every
    * publish lands as `<path>.versions/v<N>` (N monotonically increasing,
    * derived from the existing version dirs) and `path` flips to the new
    * version with the same atomic symlink swap; PRIOR VERSIONS ARE
    * RETAINED, so `readVersion` serves any historical snapshot — the
    * local-filesystem analogue of a table format's snapshot log, where
    * "as of version N" is a manifest-pointer lookup, never a data
    * rewrite. Returns the version number written. Retention policy is the
    * caller's (a deployment expires versions by age/count; nothing here
    * deletes them).
    */
  def overwriteVersioned(df: DataFrame, path: String): Int = synchronized {
    val versionsDir = Paths.get(path + ".versions")
    Files.createDirectories(versionsDir)
    val next = 1 + latestVersion(path).getOrElse(0)
    val target = versionsDir.resolve(s"v$next")
    // Stage then atomic-rename INTO the versions dir: a crash mid-write
    // leaves a stage dir, never a half-visible version.
    val stage = Paths.get(path + s".stage-${java.util.UUID.randomUUID()}")
    try df.write.parquet(stage.toString)
    catch { case e: Throwable => deleteRecursively(stage); throw e }
    Files.move(stage, target, StandardCopyOption.ATOMIC_MOVE)
    val link = Paths.get(path)
    require(!Files.exists(link) || Files.isSymbolicLink(link),
      s"snapshot target $path exists but is not a sink-managed symlink")
    val tmpLink = Paths.get(path + ".lnk-" + java.util.UUID.randomUUID())
    Files.createSymbolicLink(tmpLink,
      Paths.get(path).getParent.relativize(target))
    Files.move(tmpLink, link, StandardCopyOption.ATOMIC_MOVE)
    next
  }

  /** Remove a VERSIONED snapshot entirely — live link plus the whole
    * `.versions` history. The recovery path for a publisher that finds a
    * half-initialized history (e.g. a fixed multi-version contract where
    * only some versions landed before a crash): naive "publish the
    * missing ones" would shift version numbers off the contract forever,
    * so the correct move is wipe-and-rebuild from source.
    */
  def reset(path: String): Unit = synchronized {
    Files.deleteIfExists(Paths.get(path))
    deleteRecursively(Paths.get(path + ".versions"))
  }

  /** Highest published version at `path`, if any. */
  def latestVersion(path: String): Option[Int] = {
    val versionsDir = Paths.get(path + ".versions")
    if (!Files.isDirectory(versionsDir)) None
    else {
      val st = Files.list(versionsDir)
      // try/finally: the stream holds a directory fd; parse defensively so
      // a stray non-`v<int>` entry (temp dir, editor droppings) is skipped
      // rather than blowing up every publish with NumberFormatException.
      val vs =
        try st.toArray.toSeq
          .map(_.asInstanceOf[Path].getFileName.toString)
          .collect { case s if s.startsWith("v") => s.drop(1) }
          .flatMap(n => scala.util.Try(n.toInt).toOption)
        finally st.close()
      if (vs.isEmpty) None else Some(vs.max)
    }
  }

  /** Read snapshot `path` as of `version` (see [[overwriteVersioned]]). */
  def readVersion(s: org.apache.spark.sql.SparkSession, path: String,
      version: Int): DataFrame =
    ParquetSource.read(s, path + s".versions/v$version")
}
