package graft.sources

import org.apache.hadoop.fs.{FSDataOutputStream, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** A local-backed Hadoop FS registered under `mos://` that emulates the
  * COMMIT SEMANTICS of an S3-class object store, the substrate the wave
  * protocol's `manifest` mode targets (r16 verdict item 1):
  *
  *   - **conditional-put create**: `create(path, overwrite = false)` is
  *     ATOMIC (java.nio O_EXCL claim) — the `If-None-Match: *` semantics
  *     real S3 has offered since 2024, which leases and manifest commits
  *     require. RawLocalFileSystem's own create(false) is check-then-act,
  *     i.e. WEAKER than the store being mocked;
  *   - **no directory rename as publish**: any DIRECTORY rename outside
  *     the Hadoop committer's `_temporary` tree throws — object stores
  *     have no atomic directory rename, so a protocol path that reaches
  *     one here is a bug (`rename` staging mode would). Single-FILE
  *     renames stay legal: object stores implement them as one atomic
  *     server-side copy + delete, which `manifest` mode's per-file moves
  *     and the tombstone publish rely on. Committer-internal renames
  *     (under `_temporary`) are permitted because a real deployment swaps
  *     that layer for an object-store committer (S3A magic committer) —
  *     the wave protocol is agnostic to how a writer's PRIVATE staging
  *     files got written, only to how they PUBLISH.
  *
  * [[MockRemoteFileSystem]] pattern: Hadoop instantiates it reflectively
  * from `fs.mos.impl`, so everything below the scheme lookup runs the
  * same remote-scheme code path a real store would.
  */
class MockObjectStoreFileSystem extends MockRemoteFileSystem {

  override def getScheme: String = "mos"
  override def getUri: java.net.URI = java.net.URI.create("mos:///")

  private def local(f: Path): java.io.File = new java.io.File(f.toUri.getPath)

  /** Atomic conditional-put claim for overwrite = false (the non-FsPermission
    * overload is the one `FileSystem.create(path, overwrite)` routes
    * through on RawLocalFileSystem). */
  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    if (!overwrite) {
      val l = local(f)
      Option(l.getParentFile).foreach(_.mkdirs())
      try java.nio.file.Files.createFile(l.toPath)
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          throw new org.apache.hadoop.fs.FileAlreadyExistsException(
            s"conditional put failed, key exists: $f")
      }
    }
    super.create(f, true, bufferSize, replication, blockSize, progress)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    create(f, overwrite, bufferSize, replication, blockSize, progress)

  override def rename(src: Path, dst: Path): Boolean = {
    val isDir =
      try getFileStatus(src).isDirectory
      catch { case _: java.io.IOException => false }
    if (isDir && !src.toUri.getPath.contains("_temporary"))
      throw new java.io.IOException(
        s"mos:// forbids directory rename as a publish primitive " +
          s"(object stores have none): $src -> $dst — use per-file moves " +
          "+ a manifest commit (Bucketing.appendWave / commitWave)")
    super.rename(src, dst)
  }

  /** Object stores have no mtime mutation (S3A throws) — rejecting it
    * here is what lets specs exercise the heartbeat fallback
    * (`Bucketing.touchMarker`'s overwrite-put): on the RawLocal-backed
    * mock, setTimes would otherwise silently succeed and no test could
    * catch a store-real liveness regression (r18 advisor). */
  override def setTimes(p: Path, mtime: Long, atime: Long): Unit =
    throw new java.io.IOException(
      s"mos:// does not support setTimes (object stores cannot mutate " +
        s"mtime): $p — heartbeat by overwrite-put instead")
}

/** [[MockObjectStoreFileSystem]] that additionally THROTTLES the publish
  * fan-out: the FIRST rename attempt of every staged file fails with a
  * 503-style IOException — the request pattern a real store answers a
  * 32-wide move burst with. Only protocol publishes (src under a
  * `.stage_*` root) are throttled; committer-internal and data-file
  * renames pass, so the Spark write jobs themselves stay deterministic. */
class ThrottlingObjectStoreFileSystem extends MockObjectStoreFileSystem {
  override def getScheme: String = "thr"
  override def getUri: java.net.URI = java.net.URI.create("thr:///")

  override def rename(src: Path, dst: Path): Boolean = {
    val p = src.toUri.getPath
    if (p.contains("/.stage_") && !p.contains("_temporary") &&
        ThrottlingObjectStoreFileSystem.firstAttempt(p)) {
      ThrottlingObjectStoreFileSystem.throttled.incrementAndGet()
      throw new java.io.IOException(
        "SlowDown: Please reduce your request rate (mock 503)")
    }
    super.rename(src, dst)
  }
}

object ThrottlingObjectStoreFileSystem {
  val throttled = new java.util.concurrent.atomic.AtomicInteger
  private val seen =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  def firstAttempt(p: String): Boolean = seen.add(p)
  def reset(): Unit = { seen.clear(); throttled.set(0) }
}
