package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import java.util.UUID

/** The single primitive [[ManifestTable]]'s commit protocol needs from a
  * store: atomically publish `content` at `target` iff no version is
  * committed there yet. Everything else in the protocol (staging,
  * snapshot reads, retry) is arbiter-independent.
  *
  * [[RenameArbiter]] (default) implements it with temp-write +
  * rename-without-overwrite — atomic on HDFS and POSIX, NOT on S3-class
  * object stores where rename is copy+delete. For those, install a
  * [[ConditionalPutArbiter]] over the store's conditional write — a
  * public, strongly consistent primitive on every major object store
  * today (S3 `If-None-Match: *` PUT, GCS `ifGenerationMatch=0`, Azure
  * Blob `If-None-Match: *`), and the same one Delta's S3 "managed commit"
  * coordinators build on. Listing freshness is not a concern on these
  * stores anymore (S3 read-after-write listing is strongly consistent,
  * publicly documented since 2020), so the conditional PUT is the sole
  * thing the protocol needs swapped.
  */
trait CommitArbiter {
  /** True iff THIS writer won publication of `target`. Must be atomic
    * with respect to concurrent publishers of the same `target`: exactly
    * one caller (across all processes) may see true, and after any call
    * returns, a committed object at `target` is fully written (readers
    * can never observe a torn manifest). */
  def publish(fs: FileSystem, target: Path, content: Array[Byte]): Boolean
}

/** Temp-write + rename-without-overwrite: the HDFS/POSIX arbiter. The
  * manifest is fully written and closed before the rename, so readers can
  * never observe a torn file; the no-overwrite rename loses cleanly to a
  * concurrent committer. (The local FS delegates to POSIX rename, which
  * silently overwrites — there the exists() guard carries exclusivity,
  * and the guard and the rename run under one JVM-wide lock, so racing
  * committers in one process cannot both see the target absent and both
  * rename: single-process semantics, test-grade only.) */
object RenameArbiter extends CommitArbiter {
  def publish(fs: FileSystem, target: Path, content: Array[Byte]): Boolean = {
    val tmp = new Path(target.getParent, s".tmp-${UUID.randomUUID()}")
    fs.mkdirs(target.getParent)
    val out = fs.create(tmp, false)
    try out.write(content) finally out.close()
    val won = synchronized(!fs.exists(target) && fs.rename(tmp, target))
    if (!won) fs.delete(tmp, false)
    won
  }
}

/** What a [[ConditionalPutArbiter]] needs from an object store. The
  * at-least-once reality of HTTP is part of the contract: `putIfAbsent`
  * may CREATE the object and then throw (the ack was lost on the way
  * back), and a client retry then reads as a duplicate PUT. The arbiter
  * resolves both cases by content read-back.
  */
trait ConditionalPutStore {
  /** Conditional create (If-None-Match:* semantics): true iff this call
    * created the object; false iff an object already existed. May throw a
    * transient error AFTER creating the object (lost ack). */
  def putIfAbsent(path: Path, content: Array[Byte]): Boolean
  /** Committed bytes at `path`, if any. Must be read-after-write
    * consistent with `putIfAbsent` (true of S3/GCS/Azure today). */
  def read(path: Path): Option[Array[Byte]]
}

/** [[ConditionalPutStore]] over a Hadoop [[FileSystem]] whose
  * `create(overwrite = false)` is a true conditional write — the S3A
  * connector against S3/MinIO/GCS/Azure (hadoop-aws ≥ 3.4.1 maps it to
  * an `If-None-Match: *` PUT when `fs.s3a.conditional.create` /
  * `fs.s3a.change.detection` support is on; MinIO honors the same
  * header). This is the store that backs the reference's actual
  * deployment shape — Delta-on-MinIO via `s3a://`
  * (pipeline/airflow/dags/load_data_task.py:100-105 wires
  * `fs.s3a.endpoint` to the MinIO service, path-style access, static
  * credentials; the same four configs apply here unchanged).
  *
  * S3A surfaces the conditional failure at CLOSE time (the PUT happens
  * when the stream closes), local/HDFS filesystems at CREATE time —
  * both routes report "already exists" as `putIfAbsent = false`. Any
  * other failure propagates as the lost-ack path the arbiter already
  * resolves by read-back.
  *
  * NOT for HDFS/POSIX production use: there a writer's bytes become
  * visible progressively (torn reads), which S3-class stores exclude
  * (a PUT is atomic — the object appears whole or not at all). On
  * HDFS use [[RenameArbiter]]; this store's local-FS behavior is for
  * the specs.
  */
final class HadoopConditionalPutStore(fs: FileSystem) extends ConditionalPutStore {
  def putIfAbsent(path: Path, content: Array[Byte]): Boolean = {
    fs.mkdirs(path.getParent)
    val out =
      try fs.createFile(path).overwrite(false).build()
      catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException => return false }
    try {
      out.write(content)
      out.close() // S3A: the conditional PUT happens here
      true
    } catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
    }
  }

  def read(path: Path): Option[Array[Byte]] =
    if (!fs.exists(path)) None
    else {
      val in = fs.open(path)
      try {
        val buf = new java.io.ByteArrayOutputStream()
        val chunk = new Array[Byte](8192)
        var n = in.read(chunk)
        while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
        Some(buf.toByteArray)
      } finally in.close()
    }
}

/** Commit arbiter for object stores, built on a conditional PUT.
  *
  * The subtlety is failure ambiguity, not the happy path: when a PUT
  * throws, the object may or may not have been created; when a retried
  * PUT reports "already exists", the existing object may be OUR earlier
  * lost-ack write or a RACING writer's. Both resolve the same way: read
  * the committed object back and compare content — every manifest embeds
  * a per-writer `# nonce:` header (plus any commit-unique staged file
  * names), so byte equality is an EXACT ownership proof: "that earlier
  * write was mine; I won" — even for metadata-only commits that stage
  * nothing. This is exactly the idempotence recovery a DynamoDB/S3-style
  * commit coordinator performs.
  *
  * Every read-back is itself retried: a transient read failure right
  * after a lost-ack PUT must not surface as an ordinary commit failure —
  * the caller would clean up staged files that a LANDED manifest
  * references. When the outcome stays unresolvable through every
  * attempt, publish throws [[CommitOutcomeUnknown]] instead of guessing
  * either way.
  */
final class ConditionalPutArbiter(store: ConditionalPutStore, maxAttempts: Int = 5)
    extends CommitArbiter {
  def publish(fs: FileSystem, target: Path, content: Array[Byte]): Boolean = {
    var lastErr: Throwable = null
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      val created =
        try Some(store.putIfAbsent(target, content))
        catch { case scala.util.control.NonFatal(e) => lastErr = e; None } // ack lost
      created match {
        case Some(true) => return true
        case Some(false) =>
          // precondition failed: a committed object exists — ours (an
          // earlier lost-ack PUT, this being our own retry) or a racer's
          try return store.read(target).exists(java.util.Arrays.equals(_, content))
          catch { case scala.util.control.NonFatal(e) => lastErr = e } // resolve next round
        case None =>
          try store.read(target) match {
            case Some(bytes) => return java.util.Arrays.equals(bytes, content)
            case None => () // nothing landed — safe to retry the PUT
          } catch { case scala.util.control.NonFatal(e) => lastErr = e }
      }
    }
    throw new CommitOutcomeUnknown(
      s"$maxAttempts attempts could not determine whether the commit of $target landed — " +
        "staged files are left in place (a landed manifest references them; vacuum reclaims " +
        "them after the retention window otherwise)", lastErr)
  }
}

/** Thrown when an arbiter cannot determine whether its commit landed
  * (the store stayed unreachable through every resolution attempt).
  * Write paths treat this differently from an ordinary failure: staged
  * data files are NOT cleaned up, because a manifest that DID land
  * references them — vacuum's age+reference check reclaims them later
  * iff the commit truly never happened. */
final class CommitOutcomeUnknown(msg: String, cause: Throwable)
    extends RuntimeException(msg, cause)
