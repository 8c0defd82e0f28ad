package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileSystem, Path}

/** The commit-point primitive behind every [[CommitLog]] / [[LakeTxn]]
  * version publish: atomically create `p` with `text`, failing with
  * [[CommitLog.CommitConflict]] when `p` already exists — the
  * compare-and-swap every multi-writer guarantee in the engine rests
  * on. It is step 5 of the one commit protocol ([[LakeCommit.run]]:
  * read, replay check, fence check, next snapshot, CAS), whose caller
  * settles a lost CAS by one of three rules — abort, rebase over
  * disjoint partitions, or re-derive from the new latest. Pluggable
  * because the RIGHT primitive differs by storage tier:
  *
  *  - POSIX: `O_CREAT|O_EXCL` ([[AtomicCreateLogStore]]);
  *  - HDFS: namenode-atomic `create(p, overwrite = false)` (same);
  *  - object stores: a CONDITIONAL PUT — S3 `If-None-Match: *`, GCS
  *    `x-goog-if-generation-match: 0`, Azure `If-None-Match: *` —
  *    because a list/exists + put is check-then-create and two racing
  *    committers can BOTH pass the check ([[ConditionalPutLogStore]]).
  *
  * Deployments register a store per URI scheme ([[LogStore.register]]);
  * unregistered schemes use the create-no-overwrite default, which is
  * correct everywhere a filesystem's no-overwrite create is atomic.
  * LogStoreContractSpec drives both implementations through the same
  * barrier race that once caught the local TOCTOU window. */
trait LogStore {
  /** Publish `text` at `p` iff `p` does not exist; throw
    * [[CommitLog.CommitConflict]] if it does (another writer won). */
  def casWrite(f: FileSystem, p: Path, text: String): Unit
}

/** Atomic create-no-overwrite: the POSIX/HDFS default. Local paths use
  * `Files.createFile` (real `O_CREAT|O_EXCL` — Hadoop's local `create`
  * is check-then-create and loses the TOCTOU race); everything else
  * uses Hadoop's `create(p, overwrite = false)`, atomic wherever the
  * filesystem contract says so (HDFS namenode, ABFS with HNS). */
object AtomicCreateLogStore extends LogStore {
  override def casWrite(f: FileSystem, p: Path, text: String): Unit = {
    val scheme = Option(p.toUri.getScheme).getOrElse(
      Option(f.getUri.getScheme).getOrElse("file"))
    if (scheme == "file") {
      val local = java.nio.file.Paths.get(p.toUri.getPath)
      try {
        java.nio.file.Files.createDirectories(local.getParent)
        java.nio.file.Files.write(local, text.getBytes(UTF_8),
          java.nio.file.StandardOpenOption.CREATE_NEW,
          java.nio.file.StandardOpenOption.WRITE)
        ()
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          throw new CommitLog.CommitConflict(
            s"commit conflict on $p — another writer (or a crashed run's " +
              "version file) holds this version")
      }
    } else {
      val out =
        try f.create(p, false)
        catch { case _: java.io.IOException =>
          throw new CommitLog.CommitConflict(
            s"commit conflict on $p — another writer (or a crashed run's " +
              "version file) holds this version")
        }
      try out.write(text.getBytes(UTF_8)) finally out.close()
    }
  }
}

/** Object-store CAS via a conditional put. `putIfAbsent` is the one
  * seam a deployment fills with its store's client call — it must
  * return false (or throw the store's precondition-failed error) when
  * the key already exists, evaluated ATOMICALLY by the store:
  *
  *  - S3: `PutObject` with `If-None-Match: *` → 412 = lost the race
  *  - GCS: insert with `ifGenerationMatch=0` → 412
  *  - Azure Blob: `Put Blob` with `If-None-Match: *` → 409/412
  *
  * No exists() pre-check anywhere — the condition IS the atomicity. */
final class ConditionalPutLogStore(
    putIfAbsent: (Path, Array[Byte]) => Boolean) extends LogStore {
  override def casWrite(f: FileSystem, p: Path, text: String): Unit =
    if (!putIfAbsent(p, text.getBytes(UTF_8)))
      throw new CommitLog.CommitConflict(
        s"commit conflict on $p — the conditional put was rejected: " +
          "another writer holds this version")
}

object LogStore {
  @volatile private var overrides: Map[String, LogStore] = Map.empty

  /** Route a URI scheme's commits through `store` (e.g. `"s3a"` → a
    * [[ConditionalPutLogStore]] over the deployment's S3 client).
    * JVM-global, set once at startup before any commit. */
  def register(scheme: String, store: LogStore): Unit =
    synchronized { overrides = overrides + (scheme -> store) }

  def unregister(scheme: String): Unit =
    synchronized { overrides = overrides - scheme }

  def forPath(f: FileSystem, p: Path): LogStore = {
    val scheme = Option(p.toUri.getScheme).getOrElse(
      Option(f.getUri.getScheme).getOrElse("file"))
    overrides.getOrElse(scheme, AtomicCreateLogStore)
  }
}
