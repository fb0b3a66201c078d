package graft.state

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, DataFrameReader, SparkSession}
import org.apache.spark.sql.types.StructType

/** Versioned model/state persistence with blue/green publication.
  *
  * Reference: joblib pickles saved per run (`src/ml/model.py:18-46`,
  * `vector_engine.py:47-61`) and the training script's staging-dir →
  * atomic-rename swap (`scripts/run_training_batch.py:30-36, 243-257`).
  * Engine form: state is ordinary parquet tables (micro-clusters,
  * centroids, anomaly baselines). Every write stages in a private
  * attempt dir, `<root>/_staging/<name>.attempt-<uuid>` ([[stageWith]]),
  * which is then atomically moved over `<root>/<name>`, with the
  * previous production copy kept as `<name>_backup` ([[publish]]), or
  * moved only if `<name>` is new ([[publishExclusive]]). Concurrent
  * writers to one name stage side by side, so only the publish rename
  * arbitrates between them.
  */
object ModelStore {

  private def rm(p: Path): Unit = graft.util.Fs.deleteRecursively(p)

  /** Writes `df` into a fresh attempt dir of `name` and returns the
    * dir, for [[publish]] or [[publishExclusive]]. A write that throws
    * deletes its attempt dir. */
  def stage(df: DataFrame, root: String, name: String): Path =
    stageWith(root, name)(a => df.write.mode("overwrite").parquet(a.toString))

  /** [[stage]] for a caller that lays out the attempt dir itself:
    * runs `write` over a fresh attempt dir of `name` and returns the
    * dir, or deletes it and rethrows if `write` throws. */
  def stageWith(root: String, name: String)(write: Path => Unit): Path = {
    val attempt = newAttempt(root, name)
    try write(attempt) catch { case t: Throwable => discard(attempt); throw t }
    attempt
  }

  /** Deletes a staged attempt that will not be published. Best effort:
    * a failure here must not mask the error that made the caller give
    * the attempt up. */
  def discard(attempt: Path): Unit =
    try rm(attempt) catch { case scala.util.control.NonFatal(_) => () }

  /** The attempt-dir separator. A staged attempt lives at
    * `_staging/<name><sep><uuid>`; [[vacuum]] maps it back to its
    * owning name through this marker. */
  private[state] val AttemptSep = ".attempt-"

  /** A fresh, writer-private staging directory for one commit attempt
    * of `name`: concurrent attempts at the same version name stage side
    * by side and only the publish rename arbitrates, so a losing
    * attempt can neither delete nor half-overwrite the winner's staged
    * bytes. Only [[stageWith]] opens one, so every attempt is either
    * returned whole or deleted. */
  private def newAttempt(root: String, name: String): Path = {
    val p = Paths.get(root, "_staging",
      s"$name$AttemptSep${java.util.UUID.randomUUID().toString}")
    Files.createDirectories(p)
    p
  }

  /** Blue/green publish from a staged attempt: prod → backup,
    * attempt → prod, two atomic renames (mirroring
    * run_training_batch.py:243-257). */
  def publish(root: String, name: String, attempt: Path): Unit = {
    val prod = Paths.get(root, name)
    val backup = Paths.get(root, s"${name}_backup")
    require(Files.exists(attempt), s"no staged attempt at $attempt")
    rm(backup)
    if (Files.exists(prod))
      Files.move(prod, backup, StandardCopyOption.ATOMIC_MOVE)
    Files.move(attempt, prod, StandardCopyOption.ATOMIC_MOVE)
  }

  /** First-writer-wins publish from a staged attempt — the OCC commit
    * primitive for IMMUTABLE version names, which the copy-on-write
    * commits ([[PartitionedStore.commit]]) and the catalog commit
    * through. The existence check is the fast-fail; the arbiter is the
    * single `Files.move` WITHOUT replace-existing: of any number of
    * racing attempts at the same version name, exactly one rename lands
    * and every other throws [[CasConflictException]], with each loser's
    * staged bytes private to it. A loser must REBASE onto the newly
    * live version and retry under a fresh attempt.
    *
    * Exclusivity rests on the rename REFUSING an existing target. The
    * Javadoc leaves existing-target behavior under ATOMIC_MOVE
    * implementation-specific; on POSIX, rename(2) over a NON-EMPTY
    * directory fails (ENOTEMPTY) while an empty-dir target would be
    * silently replaced — so the invariant this method maintains
    * inductively is "every published version is a non-empty directory":
    * it refuses to publish an attempt with no files, hence every target
    * a later racer can collide with is non-empty and the arbiter holds. */
  def publishExclusive(root: String, name: String, attempt: Path): Unit = {
    require(Files.exists(attempt), s"no staged attempt at $attempt")
    require(children(attempt).nonEmpty,
      s"publishExclusive: attempt at $attempt is empty — publishing " +
        "it would break the non-empty-directory invariant the " +
        "first-writer-wins rename arbiter depends on")
    val target = Paths.get(root, name)
    if (Files.exists(target) ||
        Files.exists(Paths.get(root, s"${name}_backup")))
      throw new CasConflictException(
        s"publishExclusive: version '$name' already exists at $root " +
          "— rebase onto the latest version and retry")
    moveExclusive(attempt, target)
  }

  /** The no-replace rename arbiter, with the filesystem's refusal
    * translated to the typed conflict: a loser that passed the
    * fast-fail and then lost the move throws FileAlreadyExistsException
    * or (POSIX, directory target) a FileSystemException such as
    * DirectoryNotEmptyException whose message is just a path — wrapped
    * here as [[CasConflictException]] so [[Catalog.commitWithRebase]]'s
    * retry loop sees the exact race it exists for. A FileSystemException
    * with NO competing target on disk (e.g. the filesystem cannot do
    * atomic moves at all) is a real error and propagates unwrapped. */
  private[graft] def moveExclusive(attempt: Path, target: Path): Unit =
    try Files.move(attempt, target, StandardCopyOption.ATOMIC_MOVE)
    catch {
      case e: java.nio.file.FileAlreadyExistsException =>
        throw new CasConflictException(
          s"lost the publish race for $target — rebase onto the latest " +
            "version and retry", e)
      case e: java.nio.file.FileSystemException if Files.exists(target) =>
        throw new CasConflictException(
          s"lost the publish race for $target — rebase onto the latest " +
            "version and retry", e)
    }

  /** The entry names directly under `p`; empty if `p` is not a dir. */
  private[state] def children(p: Path): Seq[String] =
    if (!Files.isDirectory(p)) Seq.empty
    else scala.util.Using.resource(Files.list(p)) { s =>
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.map(_.getFileName.toString).toSeq
    }

  def save(df: DataFrame, root: String, name: String): Unit =
    publish(root, name, stage(df, root, name))

  /** Load production state; falls back to the backup copy if prod is
    * missing (covers a crash between publish()'s two renames — prod was
    * moved aside but staging never landed). */
  def load(spark: SparkSession, root: String, name: String): DataFrame =
    loadWith(spark.read, root, name)

  /** [[load]] of a table whose schema the caller fixes (e.g.
    * [[graft.ml.DenStream.StateSchema]]): no schema-inference job, which
    * `spark.read.parquet` otherwise runs on every read to merge footers.
    * Same backup fallback. */
  def load(spark: SparkSession, root: String, name: String,
      schema: StructType): DataFrame =
    loadWith(spark.read.schema(schema), root, name)

  private def loadWith(reader: DataFrameReader, root: String,
      name: String): DataFrame =
    reader.parquet(s"$root/${PartitionedStore.resolve(root, name)}")

  def exists(root: String, name: String): Boolean =
    Files.exists(Paths.get(root, name))

  /** Retention vacuum: retire every published version under `root`
    * whose name is not in `keep` — the lifecycle endpoint of the
    * multi-version store (q241 leaves v1/v2/v3 coexisting; a retention
    * policy eventually reclaims all but the serving set). A kept name
    * keeps its `_backup` twin too (the crash-window fallback must
    * survive a vacuum); a retired name loses prod, backup AND any
    * leftover staging. Returns the retired names, sorted. Deliberately
    * name-driven, not age-driven: age policies are a `keep`-set
    * computation for the caller, while the invariant this owns is
    * "never break a kept blue/green pair". */
  def vacuum(root: String, keep: Set[String]): Seq[String] = {
    def owner(dir: String): String =
      if (dir.endsWith("_backup")) dir.stripSuffix("_backup") else dir
    // names starting with "_" are store metadata (_staging, the
    // catalog's _last_checkpoint marker), never published versions —
    // retention must not sweep them
    val top = children(Paths.get(root)).filterNot(_.startsWith("_"))
    val retired = top.filterNot(d => keep.contains(owner(d)))
    retired.foreach(d => rm(Paths.get(root, d)))
    // an attempt dir (_staging/<name>.attempt-<uuid>) belongs to <name>:
    // a kept name's IN-FLIGHT attempt must survive the sweep
    children(Paths.get(root, "_staging"))
      .filterNot(d => keep.exists(k => d.startsWith(k + AttemptSep)))
      .foreach(d => rm(Paths.get(root, "_staging", d)))
    retired.map(owner).distinct.sorted
  }
}
