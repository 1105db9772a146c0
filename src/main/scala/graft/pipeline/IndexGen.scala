package graft.pipeline

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Versioned GENERATIONS for persisted index artifacts (vector and
  * text) — the commit discipline the events store's compactor already
  * has (metadata-first commit; reference analog:
  * /root/reference/src/storage/src/compaction.rs:150-176), extended to
  * whole-index REBUILDS:
  *
  *   - A generation is a complete, self-contained artifact under
  *     `path/gen=N/` (codebook + pq_codebook + cells, or
  *     postings + stats + doclens — whatever the family writes).
  *   - A generation becomes visible through ONE atomic marker create
  *     (`path/_gen-N.committed`, hidden from parquet readers by the
  *     leading underscore). Until the marker exists the generation is
  *     invisible: a crash mid-rebuild leaves the previous generation
  *     serving and a dead directory for [[gcGenerations]].
  *   - Readers resolve the committed generation ONCE per operation
  *     ([[resolveRoot]]) and read every sub-artifact through that one
  *     root, so a search racing a rebuild sees entirely-old or
  *     entirely-new — never a new codebook against old cells.
  *   - A flat artifact (no markers) resolves to `path` itself, so
  *     every pre-generation index keeps working unchanged and a store
  *     OPTS IN to generations at its first [[commitNewGeneration]].
  *
  * Marker-scan resolution (max committed N) instead of a CURRENT
  * pointer file: replacing a pointer needs delete+rename on HDFS-like
  * stores — a window where no pointer exists and readers would fall
  * back to the flat layout. Marker creation is a single atomic create;
  * the scan is one driver-side listing, the same cost class as the
  * per-cell manifest reads the search tail already pays.
  *
  * Concurrent APPENDS during a rebuild follow the standard contract:
  * an append resolves the committed generation at ITS start, so a
  * batch landing in generation N while N+1 is being built from an
  * earlier snapshot of N is superseded when N+1 commits. Quiesce
  * appends across a rebuild (or re-drive the stream from its
  * checkpoint after the swap) — exactly the events store's
  * rebuild-vs-ingest rule.
  */
object IndexGen {

  private val MarkerPrefix = "_gen-"
  private val MarkerSuffix = ".committed"

  private def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The highest committed generation number, if any. One listing. */
  def currentGen(spark: SparkSession, path: String): Option[Long] = {
    val root = new Path(path)
    val fs = fsOf(spark, path)
    if (!fs.exists(root)) return None
    val gens = fs.listStatus(root).iterator.map(_.getPath.getName)
      .filter(n => n.startsWith(MarkerPrefix) && n.endsWith(MarkerSuffix))
      .flatMap(n => scala.util.Try(
        n.stripPrefix(MarkerPrefix).stripSuffix(MarkerSuffix).toLong).toOption)
      .toSeq
    if (gens.isEmpty) None else Some(gens.max)
  }

  /** The directory every read/maintenance path of a generational
    * index must use: `path/gen=N` for the highest committed N, or
    * `path` itself for a flat (pre-generation) artifact. Resolve ONCE
    * per operation and thread the result — resolving per sub-read
    * would reintroduce the mixed-generation race this module exists
    * to close. */
  def resolveRoot(spark: SparkSession, path: String): String =
    currentGen(spark, path) match {
      case Some(n) => s"$path/gen=$n"
      case None    => path
    }

  /** Build the NEXT generation atomically: `build` writes a complete
    * artifact into `path/gen=N+1` (a directory no reader resolves),
    * then one marker create commits it. Throws from `build` (or a
    * crash) leave the previous generation serving — the half-written
    * directory is garbage, not state, and [[gcGenerations]] reclaims
    * it. Returns the committed generation number.
    *
    * SINGLE REBUILDER at a time, caller-serialized — the standard
    * maintenance-job contract (the events compactor's too): two
    * concurrent rebuilds would race on the same gen number (each
    * clears the other's in-progress directory). The marker create
    * refuses to overwrite, so the rebuild that commits second throws
    * instead of silently re-committing the winner's generation; on a
    * filesystem whose create-if-absent is not atomic (the local one
    * checks, then creates) a tight race can still pass both.
    *
    * The first commit over a FLAT artifact leaves the flat files in
    * place (still resolvable by any reader that raced the commit);
    * [[gcGenerations]] can reclaim them once the swap is settled. */
  def commitNewGeneration(spark: SparkSession, path: String)(
      build: String => Unit): Long = {
    val next = currentGen(spark, path).getOrElse(-1L) + 1L
    val genDir = s"$path/gen=$next"
    val fs = fsOf(spark, path)
    // a dead directory from a crashed earlier attempt at this same
    // number is garbage — replace it wholesale before building
    val gp = new Path(genDir)
    if (fs.exists(gp)) fs.delete(gp, true): Unit
    build(genDir)
    val marker = new Path(path, s"$MarkerPrefix$next$MarkerSuffix")
    try fs.create(marker, false).close()
    catch {
      case e: org.apache.hadoop.fs.FileAlreadyExistsException =>
        throw new IllegalStateException(
          s"generation $next of $path was committed by a concurrent rebuild", e)
    }
    next
  }

  /** Reclaim superseded generations: every committed generation below
    * the newest `keep` (marker AND directory), plus any uncommitted
    * `gen=*` directory older than the current generation (crashed
    * rebuild leftovers). With `dropFlat`, also removes the legacy
    * flat artifact's sub-directories once at least one generation is
    * committed (the flat files are unreachable then — every reader
    * resolves the generation — but ONLY delete them on request:
    * a reader that resolved the flat root just before the first
    * commit may still be scanning them). Returns the deleted
    * generation numbers. */
  def gcGenerations(spark: SparkSession, path: String, keep: Int = 1,
                    dropFlat: Boolean = false,
                    flatSubdirs: Seq[String] = Nil): Seq[Long] = {
    require(keep >= 1, "must keep at least the serving generation")
    val fs = fsOf(spark, path)
    val cur = currentGen(spark, path).getOrElse(return Nil)
    val committed = fs.listStatus(new Path(path)).iterator
      .map(_.getPath.getName)
      .filter(n => n.startsWith(MarkerPrefix) && n.endsWith(MarkerSuffix))
      .flatMap(n => scala.util.Try(
        n.stripPrefix(MarkerPrefix).stripSuffix(MarkerSuffix).toLong).toOption)
      .toSeq.sorted
    val stale = committed.dropRight(keep)
    stale.foreach { n =>
      // directory first, marker last: a crash between the two leaves
      // a marker over a missing dir, which resolveRoot would serve —
      // so markers for the KEPT set must never be touched, and a
      // stale marker only disappears after its data is gone (a reader
      // that raced the delete fails loudly on the missing dir instead
      // of silently reading a newer generation under an older name)
      fs.delete(new Path(s"$path/gen=$n"), true): Unit
      fs.delete(new Path(path, s"$MarkerPrefix$n$MarkerSuffix"), false): Unit
    }
    // crashed-attempt leftovers: gen dirs below current with no marker
    val claimed = committed.toSet
    fs.listStatus(new Path(path)).iterator
      .filter(_.isDirectory)
      .map(_.getPath)
      .foreach { p =>
        val n = p.getName
        if (n.startsWith("gen=")) {
          scala.util.Try(n.stripPrefix("gen=").toLong).toOption
            .filter(g => g < cur && !claimed.contains(g))
            .foreach(_ => fs.delete(p, true): Unit)
        }
      }
    if (dropFlat) flatSubdirs.foreach { d =>
      fs.delete(new Path(path, d), true): Unit
    }
    stale
  }
}
