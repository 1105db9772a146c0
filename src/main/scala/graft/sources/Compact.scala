package graft.sources

import java.nio.charset.StandardCharsets

import graft.model.Json
import graft.model.Json._
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{SaveMode, SparkSession, DataFrame}
import org.apache.spark.sql.functions.col

/** Leveled small-file compaction for a flat parquet part-file store —
  * the analog of the reference's background compactor (reference
  * storage/src/compaction.rs:197-254 `determine_compaction`: L0
  * compacts when its part COUNT exceeds `l0_max_parts`, level n≥1
  * when its total SIZE exceeds `l1_max_size_bytes *
  * level_size_multiplier^(n-1)`, merged parts capped at
  * `merge_max_l1_part_size_bytes * merge_part_size_multiplier^n`;
  * defaults from config.toml:18-31 — 7 levels, 4 L0 parts, 10 MB L1,
  * ×10 per level).
  *
  * Differences are deliberate and Spark-first:
  *  - The LSM merges key-sorted runs and pulls overlapping next-level
  *    parts into each merge (compaction.rs:244-249). Key ranges here
  *    live in the MANIFEST instead ([[Options.statsCols]] min/max
  *    from parquet footers; [[readPruned]] skips parts before Spark
  *    lists them) — row-group stats and directory partitioning do the
  *    finer pruning the LSM sort key did — so each overflowing level
  *    merges into FRESH next-level parts ([[Options.clusterByRange]]
  *    makes them near-disjoint in key space) and the next level
  *    overflows on its own schedule (size-tiered rather than strictly
  *    leveled). No merge ever rewrites more than one level's bytes,
  *    which is the property that matters at 100 TB.
  *  - The reference serializes level state into its table metadata
  *    file before touching the filesystem (compaction.rs:150-176:
  *    `write_metadata` then rename/delete ops). Same shape here: a
  *    versioned `_graft_parts-<v>.json` manifest commits each pass
  *    atomically (hidden from parquet readers), merged files become
  *    visible to manifest readers only on commit, and inputs are
  *    deleted strictly after. A crash at ANY point leaves either
  *    pre-pass state or committed state: [[read]] serves the latest
  *    manifest, stale inputs are identified via the superseded
  *    manifest generation and swept by the next [[run]].
  *
  * Single writer assumed (the reference's compactor is one background
  * thread, compaction.rs:91); readers need no lock. Plain
  * `spark.read.parquet` on the directory stays correct between runs —
  * only during the commit window must a reader use [[read]] for
  * manifest isolation. An object-store deployment without atomic
  * rename wants a transactional table format instead; the manifest
  * protocol here is the same idea at the smallest useful size.
  */
object Compact {

  /** Reference config.toml defaults. `sortCols` optionally restores
    * in-file locality (e.g. user,ts — Store.writeEvents' order) on
    * every merge, which plain appends erode over time.
    *
    * `replaceOn` turns merges REPLACING, the reference's group-table
    * mode (cmd/src/lib.rs `is_replacing`; the parquet merger keeps
    * the newest row per key when streams collide): each merge keeps
    * one row per key — the highest `versionCol` when given, else an
    * arbitrary-but-single row. As in the LSM, replacement applies
    * within a merge's inputs; duplicates split across levels collapse
    * when those levels eventually merge. */
  final case class Options(
      l0MaxParts: Int = 4,
      l1PartBytes: Long = 10L << 20,
      l1MaxLevelBytes: Long = 10L << 20,
      sizeMultiplier: Int = 10,
      levels: Int = 7,
      maxPasses: Int = 8,
      sortCols: Seq[String] = Nil,
      replaceOn: Seq[String] = Nil,
      versionCol: Option[String] = None,
      /** How many SUPERSEDED manifest generations to retain as
        * readable snapshots ([[readVersion]] — time travel for
        * reproducible training runs). 0 = delete inputs and old
        * manifests as soon as a merge commits (the reference LSM's
        * behavior). With R > 0 the last R superseded generations and
        * every part file any of them references stay on disk; each
        * [[run]] enforces the horizon, so retention is a rolling
        * window, not unbounded growth. */
      retainGenerations: Int = 0,
      /** Generations protected from expiry REGARDLESS of the rolling
        * horizon — a table-level snapshot ([[snapshotPartitioned]])
        * pins one generation per leaf, and [[runPartitioned]] routes
        * each leaf's pins here so compaction can never reclaim a
        * pinned snapshot's files. */
      pinnedGenerations: Set[Long] = Set.empty,
      /** Columns whose per-part min/max enter the manifest at every
        * commit — read from parquet FOOTERS on the driver (O(files)
        * metadata, no scan), exactly the stats the files already
        * carry. [[readPruned]] then skips whole parts a predicate
        * conjunction cannot match BEFORE Spark ever lists them: at
        * 100 TB this is the manifest-level skipping layer above
        * row-group pruning — one small JSON read replaces a
        * footer-listing pass over thousands of files per query. */
      statsCols: Seq[String] = Nil,
      /** Range-cluster merge output on `sortCols`
        * (`repartitionByRange` instead of hash repartition): merged
        * parts carry near-DISJOINT sort-key ranges — the LSM
        * sort-key locality the reference gets from its
        * (project_id, id) ordering (storage/src/table.rs:26-27) —
        * which is what makes [[statsCols]] pruning selective after
        * compaction instead of every part spanning the full key
        * range. */
      clusterByRange: Boolean = false,
      /** Multi-dimensional clustering: merge output is range-
        * partitioned and sorted by a Z-VALUE interleaving the bits of
        * these (numeric/temporal) columns' equi-width bucket indexes,
        * so merged parts are near-disjoint in EVERY listed dimension
        * at once — [[statsCols]] min/max pruning then works for a
        * predicate on ANY of them, where `clusterByRange` only serves
        * the leading sort key. The z-value is a transient write-time
        * column (never stored); bucket bounds come from one tiny
        * min/max job per merge. Equi-width buckets assume roughly
        * comparable density across the domain — a heavily skewed
        * dimension degrades toward single-dim clustering for the
        * others, never below it, and reads stay exact regardless
        * (layout only). Takes precedence over `clusterByRange`;
        * `sortCols` still orders rows WITHIN equal z-values. */
      zorderCols: Seq[String] = Nil,
      /** Aggregating-store mode (the materialized-view counterpart of
        * `replaceOn`, the summing-merge idea): rows are PARTIAL
        * ADDITIVE AGGREGATES keyed by these columns and every other
        * column must be summable — merges GROUP BY the keys and SUM
        * the rest, and readers apply the same fold across
        * still-unmerged levels. An incremental materialized view then
        * costs one [[Store.atomicAppend]] of each ingest batch's
        * partial aggregate (idempotent by deterministic batch name)
        * plus an O(groups) read — the raw store is never rescanned.
        * Mutually exclusive with `replaceOn`. */
      sumOn: Seq[String] = Nil,
      /** Columns to index with a per-part BLOOM FILTER in the
        * manifest — the skipping layer min/max stats cannot provide:
        * an equality probe on a high-cardinality column whose RANGE
        * spans every part (a user point-lookup over ingest-time-
        * ordered parts, where each user appears in few parts but
        * min/max covers all of them). Blooms are built from the data
        * (one Spark pass, amortized into compaction: merge outputs at
        * merge time, stats-less appends backfilled at the next
        * [[run]]) and probed driver-side by [[readPruned]] /
        * [[readPartitionedPruned]] for Eq/In predicates. A false
        * positive only costs IO; a missing bloom never skips; the
        * residual filter still applies, so reads stay ≡ read+filter
        * by construction. */
      bloomCols: Seq[String] = Nil,
      /** Bloom width in BITS per part per column (64..2^20). Size to
        * ~10× the expected DISTINCT values per part for ~1% false
        * positives; an undersized (saturated) filter keeps
        * everything — it never lies in the skip direction. */
      bloomBits: Int = 1 << 16,
      /** Hash probes per value, 1..6 — six disjoint 20-bit slices of
        * one md5 are available (the repo's portable hash space: the
        * executor-side build and the driver-side probe share exact
        * arithmetic, and an oracle can replay it). */
      bloomHashes: Int = 4,
      /** Schema evolution: when true, every reader and merge unions
        * the parts' parquet schemas (a later append may ADD columns;
        * parts written before it serve null there), so a long-lived
        * store can grow columns without a rewrite. Merges then write
        * the full union schema, physically back-filling nulls as the
        * levels fold. Off by default: schema-uniform stores keep the
        * cheaper sampled-schema read, and an accidental schema drift
        * fails loudly instead of being silently absorbed. Skipping
        * stays correct either way — a part lacking a column has no
        * footer stats and no bloom values for it, which reads as
        * "keep" for ranges and "only-null, skip equality" for
        * blooms. */
      mergeSchema: Boolean = false)

  /** Per-part column statistics from the parquet footer.
    * [[StatUnknown]] (unreadable/absent stats, non-ASCII string
    * bounds, exotic physical types) never prunes; [[StatAllNull]]
    * prunes every value predicate (comparisons and IN never match
    * null); [[StatRange]] bounds are Long, Double or String. */
  sealed trait ColStat
  case object StatUnknown extends ColStat
  case object StatAllNull extends ColStat
  final case class StatRange(min: Any, max: Any) extends ColStat

  /** Part-pruning predicates — the conjunction a [[readPruned]] call
    * carries. Bounds are inclusive; values may be Scala/Java numerics,
    * String, java.sql.Timestamp/Date, java.time.Instant/LocalDate
    * (temporal values compare as epoch micros / days, matching the
    * footer encoding of TIMESTAMP/DATE columns). */
  sealed trait PartPred { def column: String }
  final case class PartRange(column: String, lo: Option[Any] = None,
      hi: Option[Any] = None) extends PartPred
  final case class PartIn(column: String, values: Seq[Any]) extends PartPred
  def partEq(column: String, v: Any): PartPred = PartIn(column, Seq(v))

  /** One column's per-part bloom filter as stored in the manifest.
    * Bit positions are `numHash` disjoint 20-bit slices of ONE md5 of
    * the value's string form, each mod `numBits` — reproduced exactly
    * by the driver-side probe in [[bloomPositions]]. */
  final case class PartBloom(numHash: Int, numBits: Int, bits: Array[Long]) {
    def mightContain(positions: Seq[Int]): Boolean =
      positions.forall(p => (bits(p >> 6) & (1L << (p & 63))) != 0L)
  }

  final case class PartFile(name: String, level: Int, size: Long,
      stats: Map[String, ColStat] = Map.empty,
      blooms: Map[String, PartBloom] = Map.empty)
  final case class State(version: Long, parts: Seq[PartFile])
  final case class MergePlan(fromLevel: Int, inputs: Seq[PartFile]) {
    def bytes: Long = inputs.map(_.size).sum
  }
  /** `converged` = false means maxPasses ran out with merges still
    * planned (no silent caps: the caller sees the truncation). */
  final case class Report(passes: Int, merges: Int,
      filesBefore: Int, filesAfter: Int,
      bytesBefore: Long, bytesAfter: Long,
      converged: Boolean = true)

  /** Every state-serving parquet read goes through here so
    * [[Options.mergeSchema]] applies uniformly to readers and
    * merges. */
  private def readParts(spark: SparkSession, opts: Options,
                        basePath: Option[String], paths: Seq[String]): DataFrame = {
    val r0 = spark.read.option("mergeSchema", opts.mergeSchema)
    basePath.fold(r0)(bp => r0.option("basePath", bp)).parquet(paths: _*)
  }

  private val ManifestPrefix = "_graft_parts-"
  private val MergedPrefix = "merged-L"

  private def fsFor(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Sum of parquet footer row counts over `paths` — driver-side
    * metadata reads (O(files), a few KB each), the same source of
    * truth a parquet `count()` is served from. */
  private[graft] def footerRowCount(fs: FileSystem, paths: Seq[Path]): Long =
    paths.map { p =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, fs.getConf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRecordCount finally r.close()
    }.sum

  /** The merge's row-conservation gate: a writer that dropped or
    * fabricated rows must abort the pass BEFORE any manifest commit.
    * Separated out so the failure path is directly testable against a
    * lying writer's output. */
  private[graft] def validateMergedCount(expected: Long, actual: Long): Unit =
    require(actual == expected,
      s"compaction would lose rows ($expected -> $actual); aborting before commit")

  /** Max size of a part written INTO `level` (merge_max_l1 ×
    * mult^(source level), compaction.rs:215-216). */
  def partCap(level: Int, o: Options): Long =
    o.l1PartBytes * math.pow(o.sizeMultiplier, math.max(0, level - 1)).toLong

  /** Size trigger for level n≥1 (l1_max_size ×
    * mult^(n-1), compaction.rs:217-218). */
  def levelMaxBytes(level: Int, o: Options): Long =
    o.l1MaxLevelBytes * math.pow(o.sizeMultiplier, level - 1).toLong

  /** Level a manifest-less file adopts: the lowest whose part cap
    * holds it, so pre-existing big files are not pointlessly
    * re-merged. Fresh appends are small and land at 0. */
  def adoptLevel(size: Long, o: Options): Int = {
    var lvl = 0
    var cap = o.l1PartBytes
    while (lvl < o.levels - 1 && size > cap) { lvl += 1; cap *= o.sizeMultiplier }
    lvl
  }

  private def statValJson(v: Any): String = v match {
    case l: Long   => l.toString
    case d: Double => Json.JNum(d).render
    case s: String => JStr(s).render
    case other => throw new IllegalArgumentException(s"unencodable stat value $other")
  }

  private def statJson(s: ColStat): String = s match {
    case StatUnknown => """{"unknown":true}"""
    case StatAllNull => """{"allNull":true}"""
    case StatRange(mn, mx) =>
      s"""{"min":${statValJson(mn)},"max":${statValJson(mx)}}"""
  }

  private def parseStat(j: Json.JValue): ColStat =
    if (j.asOpt("unknown").isDefined) StatUnknown
    else if (j.asOpt("allNull").isDefined) StatAllNull
    else StatRange((j / "min").scalar, (j / "max").scalar)

  private def bloomJson(b: PartBloom): String = {
    val bb = java.nio.ByteBuffer.allocate(b.bits.length * 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.bits.foreach(bb.putLong(_): Unit)
    val b64 = java.util.Base64.getEncoder.encodeToString(bb.array)
    s"""{"k":${b.numHash},"m":${b.numBits},"bits":${JStr(b64).render}}"""
  }

  private def parseBloom(j: Json.JValue): PartBloom = {
    val bytes = java.util.Base64.getDecoder.decode((j / "bits").str)
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    PartBloom((j / "k").long.toInt, (j / "m").long.toInt,
      Array.fill(bytes.length / 8)(bb.getLong))
  }

  private def stateJson(s: State): String = {
    val parts = s.parts.map { p =>
      val statsField =
        if (p.stats.isEmpty) ""
        else p.stats.toSeq.sortBy(_._1)
          .map { case (c, st) => s"${JStr(c).render}:${statJson(st)}" }
          .mkString(""","stats":{""", ",", "}")
      val bloomsField =
        if (p.blooms.isEmpty) ""
        else p.blooms.toSeq.sortBy(_._1)
          .map { case (c, b) => s"${JStr(c).render}:${bloomJson(b)}" }
          .mkString(""","blooms":{""", ",", "}")
      s"""{"name":${JStr(p.name).render},"level":${p.level},"size":${p.size}$statsField$bloomsField}"""
    }.mkString("[", ",", "]")
    s"""{"version":${s.version},"parts":$parts}"""
  }

  private def parseState(s: String): State = {
    val j = Json.parse(s)
    State((j / "version").long,
      (j / "parts").arr.map { p =>
        val stats = p.asOpt("stats")
          .map(_.obj.map { case (c, st) => c -> parseStat(st) }.toMap)
          .getOrElse(Map.empty[String, ColStat])
        val blooms = p.asOpt("blooms")
          .map(_.obj.map { case (c, b) => c -> parseBloom(b) }.toMap)
          .getOrElse(Map.empty[String, PartBloom])
        PartFile((p / "name").str, (p / "level").long.toInt, (p / "size").long,
          stats, blooms)
      })
  }

  /** Min/max per requested column from one part's parquet footer —
    * driver-side metadata only. Conservative by construction: any
    * chunk with unreadable or untrustworthy statistics marks the
    * whole column [[StatUnknown]] for this part (kept by every
    * pruning decision). String bounds are trusted only when pure
    * ASCII, where parquet's unsigned-byte ordering coincides with
    * Java string ordering. */
  private[graft] def footerStats(fs: FileSystem, path: Path,
                                 cols: Set[String]): Map[String, ColStat] = {
    if (cols.isEmpty) return Map.empty
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(path, fs.getConf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val blocks = r.getFooter.getBlocks.asScala.toSeq
      def ascii(s: String): Boolean = s.forall(c => c >= ' ' && c < 127)
      // one chunk → None = unknown, Some(None) = all-null,
      // Some(Some((min, max))) = usable bounds
      def chunkStat(ch: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData)
          : Option[Option[(Any, Any)]] = {
        val st: org.apache.parquet.column.statistics.Statistics[_] = ch.getStatistics
        if (st == null) None
        else if (!st.hasNonNullValue) {
          if (st.isNumNullsSet && st.getNumNulls == ch.getValueCount) Some(None)
          else None
        } else {
          val pt = ch.getPrimitiveType
          pt.getPrimitiveTypeName match {
            case INT32 | INT64 =>
              Some(Some((st.genericGetMin.asInstanceOf[Number].longValue,
                st.genericGetMax.asInstanceOf[Number].longValue)))
            case FLOAT | DOUBLE =>
              val (mn, mx) = (st.genericGetMin.asInstanceOf[Number].doubleValue,
                st.genericGetMax.asInstanceOf[Number].doubleValue)
              if (mn.isNaN || mx.isNaN || mn.isInfinite || mx.isInfinite) None
              else Some(Some((mn, mx)))
            case BINARY
                if pt.getLogicalTypeAnnotation
                  .isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
              val mn = st.genericGetMin.asInstanceOf[org.apache.parquet.io.api.Binary]
                .toStringUsingUTF8
              val mx = st.genericGetMax.asInstanceOf[org.apache.parquet.io.api.Binary]
                .toStringUsingUTF8
              if (ascii(mn) && ascii(mx)) Some(Some((mn, mx))) else None
            case _ => None
          }
        }
      }
      cols.map { c =>
        val chunks = blocks.flatMap(_.getColumns.asScala)
          .filter(_.getPath.toDotString == c)
        val folded: ColStat =
          if (chunks.isEmpty) StatUnknown
          else {
            val sts = chunks.map(chunkStat)
            if (sts.contains(None)) StatUnknown
            else {
              val ranges = sts.flatten.flatten
              if (ranges.isEmpty) StatAllNull
              else StatRange(
                ranges.map(_._1).reduce((a, b) => if (cmpStat(a, b).exists(_ <= 0)) a else b),
                ranges.map(_._2).reduce((a, b) => if (cmpStat(a, b).exists(_ >= 0)) a else b))
            }
          }
        c -> folded
      }.toMap
    } finally r.close()
  }

  /** Compare two stat/predicate values, None when the categories are
    * incomparable (type confusion must KEEP a part, never skip it).
    * Long/Long compares exactly; mixed numerics go through BigDecimal
    * so a 2^60 id never suffers double rounding. */
  private def cmpStat(a: Any, b: Any): Option[Int] = (a, b) match {
    case (x: String, y: String) => Some(x.compareTo(y))
    case (x: Long, y: Long)     => Some(java.lang.Long.compare(x, y))
    case (x: Number, y: Number) =>
      Some(new java.math.BigDecimal(x.toString).compareTo(new java.math.BigDecimal(y.toString)))
    case _ => None
  }

  /** Predicate value → the footer value space: temporals to epoch
    * micros/days (parquet's physical encoding for TIMESTAMP/DATE),
    * integrals to Long, fractionals to Double. None = unprunable
    * value type (the part is kept; the residual filter still
    * applies). */
  private def normalizePredValue(v: Any): Option[Any] = v match {
    case null                   => None
    case x: Long                => Some(x)
    case x: Int                 => Some(x.toLong)
    case x: Short               => Some(x.toLong)
    case x: Byte                => Some(x.toLong)
    case x: Double              => Some(x)
    case x: Float               => Some(x.toDouble)
    case x: String              => Some(x)
    case t: java.sql.Timestamp  =>
      val i = t.toInstant
      Some(Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L))
    case i: java.time.Instant   =>
      Some(Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L))
    case d: java.sql.Date       => Some(d.toLocalDate.toEpochDay)
    case d: java.time.LocalDate => Some(d.toEpochDay)
    case _                      => None
  }

  /** Can `pred` possibly match a row of a part with `stats`? Missing
    * or unknown stats keep the part; all-null prunes every value
    * predicate; range overlap otherwise. */
  private def partMatches(stats: Map[String, ColStat], pred: PartPred): Boolean =
    stats.get(pred.column) match {
      case None | Some(StatUnknown) => true
      case Some(StatAllNull) => pred match {
        case PartRange(_, None, None) => true // vacuous bound
        case _                        => false
      }
      case Some(StatRange(mn, mx)) => pred match {
        case PartRange(_, lo, hi) =>
          val okLo = lo.forall(v => normalizePredValue(v)
            .forall(nv => cmpStat(mx, nv).forall(_ >= 0)))
          val okHi = hi.forall(v => normalizePredValue(v)
            .forall(nv => cmpStat(mn, nv).forall(_ <= 0)))
          okLo && okHi
        case PartIn(_, vs) =>
          vs.exists(v => normalizePredValue(v) match {
            case None => true
            case Some(nv) =>
              cmpStat(nv, mn).forall(_ >= 0) && cmpStat(nv, mx).forall(_ <= 0)
          })
      }
    }

  /** The canonical string a bloom hashes. The BUILD side uses Spark's
    * `cast(col AS STRING)`; this reproduces that cast for probe
    * values — None marks a type whose string form is unstable or
    * format-sensitive (doubles, timestamps), and such probes never
    * skip. Integral widths collapse ("5" == "5" whether the column is
    * int or long), so probes are width-insensitive by construction. */
  private def bloomCanonical(v: Any): Option[String] = v match {
    case null                    => None
    case s: String               => Some(s)
    case l: Long                 => Some(l.toString)
    case i: Int                  => Some(i.toString)
    case s: Short                => Some(s.toString)
    case b: Byte                 => Some(b.toString)
    case b: Boolean              => Some(b.toString)
    case d: java.sql.Date        => Some(d.toString)
    case d: java.time.LocalDate  => Some(d.toString)
    case _                       => None
  }

  /** Driver-side bloom probe positions for one value: `numHash`
    * disjoint 20-bit slices of md5(canonical string), each mod
    * `numBits` — the exact arithmetic of the executor-side build in
    * [[computeBlooms]] (`conv(substring(md5(cast(c AS STRING)),
    * 1+5i, 5), 16, 10) % m`). None = unsupported type, never skip. */
  private[graft] def bloomPositions(v: Any, numHash: Int,
                                    numBits: Int): Option[Seq[Int]] =
    bloomCanonical(v).map { s =>
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes(StandardCharsets.UTF_8))
        .map(b => f"$b%02x").mkString
      (0 until numHash).map { i =>
        (java.lang.Long.parseLong(hex.substring(5 * i, 5 * i + 5), 16)
          % numBits).toInt
      }
    }

  /** Can `pred` possibly match a part given its blooms? Only Eq/In
    * probes a bloom; a missing bloom, an uncanonicalizable value, or
    * a range predicate keeps the part. An EMPTY bloom (zero-row or
    * all-null part) correctly skips every probe — equality never
    * matches null. */
  private def bloomKeeps(blooms: Map[String, PartBloom],
                         pred: PartPred): Boolean = pred match {
    case PartIn(c, vs) => blooms.get(c) match {
      case None => true
      case Some(b) => vs.exists(v =>
        bloomPositions(v, b.numHash, b.numBits).forall(b.mightContain))
    }
    case _: PartRange => true
  }

  /** The full part-level skipping decision: range stats AND bloom
    * must both admit the predicate for the part to be read. */
  private def partKeeps(p: PartFile, pred: PartPred): Boolean =
    partMatches(p.stats, pred) && bloomKeeps(p.blooms, pred)

  /** Per-file blooms for `cols` over `paths` in ONE Spark pass: rows
    * emit (file, col, bit) triples — `numHash` 20-bit md5 slices mod
    * `numBits` — reduced to ≤ numBits SET BITS per (file, col) before
    * anything reaches the driver, so collection traffic is
    * bitmap-sized metadata, never data. Files contributing no rows
    * for a column (zero-row part, all-null column, column absent from
    * that file's schema) get an EMPTY bloom, which skips every probe:
    * equality cannot match null/absent. */
  private[graft] def computeBlooms(spark: SparkSession, paths: Seq[Path],
      cols: Seq[String], numHash: Int, numBits: Int,
      mergeSchema: Boolean = false): Map[String, Map[String, PartBloom]] = {
    import org.apache.spark.sql.functions._
    require(numHash >= 1 && numHash <= 6,
      "bloomHashes must be 1..6 (one md5 yields six disjoint 20-bit slices)")
    require(numBits >= 64 && numBits <= (1 << 20),
      "bloomBits must be in [64, 2^20]")
    if (paths.isEmpty) return Map.empty
    val df = spark.read.option("mergeSchema", mergeSchema)
      .parquet(paths.map(_.toString): _*)
    val present = cols.filter(df.columns.contains)
    if (present.isEmpty) return Map.empty
    val posStructs = present.flatMap { c =>
      val hx = md5(col(c).cast("string"))
      (0 until numHash).map { i =>
        struct(lit(c).as("c"),
          (conv(substring(hx, 1 + 5 * i, 5), 16, 10).cast("long") % numBits)
            .cast("int").as("p"))
      }
    }
    val setBits = df
      .select(input_file_name().as("__f"), explode(array(posStructs: _*)).as("e"))
      .filter(col("e.p").isNotNull)
      .groupBy(col("__f"), col("e.c").as("c"))
      .agg(collect_set(col("e.p")).as("ps"))
      .collect()
      .groupBy(r => new Path(r.getString(0)).getName)
      .map { case (n, rs) =>
        n -> rs.map { r =>
          val bits = new Array[Long]((numBits + 63) / 64)
          r.getSeq[Int](2).foreach(p => bits(p >> 6) |= (1L << (p & 63)))
          r.getString(1) -> PartBloom(numHash, numBits, bits)
        }.toMap
      }
    val empty = PartBloom(numHash, numBits, new Array[Long]((numBits + 63) / 64))
    paths.map { p =>
      val n = p.getName
      val got = setBits.getOrElse(n, Map.empty)
      n -> present.map(c => c -> got.getOrElse(c, empty)).toMap
    }.toMap
  }

  /** The write-time z-value for [[Options.zorderCols]]: each column
    * is cast to double, mapped to an equi-width bucket index in
    * [0, 2^bitsPerDim) from the merge input's own (min, max) — one
    * tiny agg job — and the buckets' bits are interleaved (bit i of
    * dimension j lands at global position i·n + j). Nulls and
    * constant dimensions take bucket 0. Pure column arithmetic:
    * codegen'd, no UDF, no shuffle beyond the range partition that
    * consumes it; the z-value is transient and never written. */
  private def zValue(df: DataFrame, cols: Seq[String]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    val n = cols.size
    require(n >= 2, "zorderCols needs at least two dimensions")
    val bitsPerDim = math.min(16, 62 / n)
    val buckets = 1L << bitsPerDim
    val aggs = cols.flatMap(c => Seq(
      min(col(c).cast("double")).as(s"__mn_$c"),
      max(col(c).cast("double")).as(s"__mx_$c")))
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    cols.zipWithIndex.map { case (c, j) =>
      val (mn, mx) = (row.getAs[Any](s"__mn_$c"), row.getAs[Any](s"__mx_$c"))
      val bucket =
        if (mn == null || mx == null || mn == mx) lit(0L)
        else coalesce(
          least(greatest(
            width_bucket(col(c).cast("double"),
              lit(mn.asInstanceOf[Double]), lit(mx.asInstanceOf[Double]),
              lit(buckets)) - 1, lit(0L)), lit(buckets - 1)),
          lit(0L))
      (0 until bitsPerDim).map(i =>
        shiftleft(bucket.bitwiseAND(lit(1L << i)), i * (n - 1) + j))
        .reduce(_ bitwiseOR _)
    }.reduce(_ bitwiseOR _)
  }

  /** The summing fold of an aggregating store: one row per `keys`
    * group, every other column summed, original column order kept.
    * Used identically by merges and readers, so a group's partials
    * collapse the same way wherever they happen to sit. */
  private def sumFold(df: DataFrame, keys: Seq[String]): DataFrame = {
    val others = df.columns.filterNot(keys.contains).toSeq
    require(others.nonEmpty, "an aggregating store needs at least one value column")
    import org.apache.spark.sql.functions.sum
    df.groupBy(keys.map(col): _*)
      .agg(sum(col(others.head)).as(others.head),
        others.tail.map(c => sum(col(c)).as(c)): _*)
      .select(df.columns.toSeq.map(col): _*)
  }

  /** The read-side fold every reader applies between merges:
    * replacement for `replaceOn` stores, summing for `sumOn` stores,
    * identity otherwise. */
  private def serveFold(union: DataFrame, opts: Options): DataFrame = {
    require(opts.replaceOn.isEmpty || opts.sumOn.isEmpty,
      "replaceOn and sumOn are mutually exclusive store modes")
    if (opts.replaceOn.nonEmpty) opts.versionCol match {
      case Some(v) => Store.compactGroupTable(union, opts.replaceOn, v)
      case None    => union.dropDuplicates(opts.replaceOn)
    }
    else if (opts.sumOn.nonEmpty) sumFold(union, opts.sumOn)
    else union
  }

  /** The residual Spark filter equivalent to `pred` — ALWAYS applied
    * on top of the pruned scan, so [[readPruned]] ≡
    * `read(...).filter(preds)` by construction even if a footer stat
    * were wrong in the conservative direction. */
  private def predColumn(pred: PartPred): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.lit
    pred match {
      case PartRange(c, lo, hi) =>
        val conds = lo.map(v => col(c) >= lit(v)).toSeq ++
          hi.map(v => col(c) <= lit(v)).toSeq
        conds.reduceOption(_ && _).getOrElse(lit(true))
      case PartIn(c, vs) =>
        if (vs.isEmpty) lit(false) else col(c).isInCollection(vs)
    }
  }

  private def manifestVersions(fs: FileSystem, dir: Path): Seq[(Long, Path)] =
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.map(_.getPath)
      .filter(_.getName.startsWith(ManifestPrefix))
      .flatMap { p =>
        val v = p.getName.stripPrefix(ManifestPrefix).stripSuffix(".json")
        v.toLongOption.map(_ -> p)
      }.sortBy(_._1)

  private def readState(fs: FileSystem, p: Path): State = {
    val in = fs.open(p)
    try {
      val bytes = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { bytes.write(buf, 0, n); n = in.read(buf) }
      parseState(new String(bytes.toByteArray, StandardCharsets.UTF_8))
    } finally in.close()
  }

  /** Commit a new manifest generation: write hidden tmp, fsync-close,
    * rename to its versioned name (atomic on file/HDFS). Old
    * generations are removed by the caller AFTER input deletion so a
    * crash always leaves a generation that identifies stale files. */
  private def commitState(fs: FileSystem, dir: Path, s: State): Path = {
    val tmp = new Path(dir, s".${ManifestPrefix}${s.version}.tmp")
    val out = fs.create(tmp, true)
    try out.write(stateJson(s).getBytes(StandardCharsets.UTF_8))
    finally out.close()
    val dest = new Path(dir, s"${ManifestPrefix}${s.version}.json")
    if (!fs.rename(tmp, dest))
      throw new IllegalStateException(s"could not commit manifest $dest")
    dest
  }

  /** Current live state: latest manifest reconciled with the
    * directory listing. Files named by a SUPERSEDED generation but
    * absent from the latest are crash leftovers (inputs whose delete
    * never ran); unknown `merged-*` files are uncommitted merge
    * output. Both are returned for sweeping, never served. Unknown
    * plain parquet files are appends since the last run and adopt
    * level [[adoptLevel]]. */
  private def loadState(fs: FileSystem, dir: Path, o: Options): (Option[State], Seq[PartFile], Seq[Path]) = {
    val listing =
      if (!fs.exists(dir)) Seq.empty
      else fs.listStatus(dir).toSeq
        .filter(st => !st.isDirectory)
        .map(st => st.getPath.getName -> st.getLen)
        .filter { case (n, _) =>
          !n.startsWith(".") && !n.startsWith("_") && n.endsWith(".parquet")
        }
    val versions = manifestVersions(fs, dir)
    versions.lastOption match {
      case None =>
        // merged-* output with NO manifest at all is a crash between
        // the first merge's renames and the first commit — adopting
        // it would double-count rows alongside its still-present
        // inputs, so it is stale, exactly as in the Some branch
        val (orphans, plain) = listing.partition(_._1.startsWith(MergedPrefix))
        val parts = plain.map { case (n, sz) => PartFile(n, adoptLevel(sz, o), sz) }
        (None, parts, orphans.map { case (n, _) => new Path(dir, n) })
      case Some((v, latest)) =>
        val state = readState(fs, latest)
        val live = state.parts.map(_.name).toSet
        val superseded: Set[String] = versions.dropRight(1)
          .flatMap { case (_, p) => readState(fs, p).parts.map(_.name) }.toSet
        // files a retained or pinned snapshot still references are
        // NOT crash leftovers — the sweep must leave them for
        // readVersion
        val retained: Set[String] = {
          val horizon = versions.dropRight(1).takeRight(math.max(0, o.retainGenerations))
          val pinned = versions.dropRight(1)
            .filter { case (ver, _) => o.pinnedGenerations.contains(ver) }
          (horizon ++ pinned).distinct
            .flatMap { case (_, p) => readState(fs, p).parts.map(_.name) }.toSet
        }
        val onDisk = listing.toMap
        // a part the LATEST manifest names but the disk lacks is data
        // loss (external deletion, partial copy) — serving the rest
        // silently, then committing a manifest that forgets the file,
        // would make the corruption permanent AND invisible
        val missing = state.parts.filterNot(p => onDisk.contains(p.name))
        if (missing.nonEmpty) throw new IllegalStateException(
          s"store $dir is missing manifest-listed parts: " +
            missing.map(_.name).mkString(", "))
        val present = state.parts
        val stale = listing.collect {
          case (n, _) if !live.contains(n) && !retained.contains(n) &&
            (superseded.contains(n) || n.startsWith(MergedPrefix)) =>
            new Path(dir, n)
        }
        val appended = listing.collect {
          case (n, sz) if !live.contains(n) && !superseded.contains(n) &&
            !n.startsWith(MergedPrefix) =>
            PartFile(n, adoptLevel(sz, o), sz)
        }
        (Some(state.copy(version = v)), present ++ appended, stale)
    }
  }

  /** One pass of the reference's picker over the level map. */
  def plan(parts: Seq[PartFile], o: Options): Seq[MergePlan] = {
    val byLevel = parts.groupBy(_.level)
    val l0 = byLevel.getOrElse(0, Nil)
    val fromL0 =
      if (l0.size > o.l0MaxParts) Seq(MergePlan(0, l0.sortBy(_.name))) else Nil
    val fromLn = (1 until o.levels - 1).flatMap { lvl =>
      val ps = byLevel.getOrElse(lvl, Nil)
      if (ps.nonEmpty && ps.map(_.size).sum > levelMaxBytes(lvl, o))
        Seq(MergePlan(lvl, ps.sortBy(_.name)))
      else Nil
    }
    fromL0 ++ fromLn
  }

  /** Run compaction passes until the level structure is stable (or
    * `maxPasses`). Returns a report; the store is equivalent
    * row-for-row before and after (validated per merge before any
    * commit). */
  def run(spark: SparkSession, storeDir: String, opts: Options = Options()): Report = {
    val dir = new Path(storeDir)
    val fs = fsFor(spark, dir)
    require(fs.exists(dir), s"store directory $storeDir does not exist")

    var (state0, parts, stale) = loadState(fs, dir, opts)
    // sweep crash leftovers first: they are invisible to readers and
    // unreferenced, so deletion is always safe — uncommitted merge
    // output (stale), torn merge tmp dirs, torn manifest tmps
    stale.foreach(p => fs.delete(p, false))
    fs.listStatus(dir).map(_.getPath)
      .filter(p => p.getName.startsWith(".compact-") ||
        (p.getName.startsWith(s".$ManifestPrefix") && p.getName.endsWith(".tmp")))
      .foreach(p => fs.delete(p, true))
    val before = parts
    var version = state0.map(_.version).getOrElse(0L)
    var passes = 0
    var merges = 0

    // backfill manifest stats for parts that predate statsCols (or
    // were adopted as plain appends) — driver-side footer reads; if
    // nothing merges below, a stats-only generation still commits so
    // readPruned works from the manifest alone
    var statsBackfilled = false
    if (opts.statsCols.nonEmpty) {
      val wanted = opts.statsCols.toSet
      parts = parts.map { p =>
        val missing = wanted.diff(p.stats.keySet)
        if (missing.isEmpty) p
        else {
          statsBackfilled = true
          p.copy(stats = p.stats ++ footerStats(fs, new Path(dir, p.name), missing))
        }
      }
    }
    // bloom backfill rides the same generation: ONE Spark pass over
    // exactly the parts missing any bloom column (fresh appends),
    // amortized into the compaction the store was already paying for
    if (opts.bloomCols.nonEmpty) {
      val wanted = opts.bloomCols.toSet
      val missing = parts.filter(p => wanted.diff(p.blooms.keySet).nonEmpty)
      if (missing.nonEmpty) {
        statsBackfilled = true
        val built = computeBlooms(spark, missing.map(p => new Path(dir, p.name)),
          opts.bloomCols, opts.bloomHashes, opts.bloomBits, opts.mergeSchema)
        parts = parts.map(p =>
          built.get(p.name).fold(p)(bs => p.copy(blooms = p.blooms ++ bs)))
      }
    }

    var planNow = plan(parts, opts)
    while (planNow.nonEmpty && passes < opts.maxPasses) {
      passes += 1
      planNow.foreach { m =>
        val target = m.fromLevel + 1
        val cap = partCap(target, opts)
        val numParts = math.max(1L, (m.bytes + cap - 1) / cap).toInt
        val inputPaths = m.inputs.map(p => new Path(dir, p.name).toString)
        val raw = readParts(spark, opts, None, inputPaths)
        val tmp = new Path(dir, s".compact-$version-$passes-L${m.fromLevel}")
        // Row-conservation is validated from parquet FOOTER counts on
        // the driver (O(files) metadata reads), not a second scan of
        // the merged output: a parquet count() is footer-served
        // anyway, so the footer sum proves exactly what a re-reading
        // count proved, minus one Spark job per merge. Footers are
        // the read-path authority — a reader yields precisely the
        // rows the footers describe.
        val (inCount, writeIn) =
          if (opts.replaceOn.isEmpty && opts.sumOn.isEmpty)
            // pure merge conserves rows: the expected count is the
            // INPUT footer sum — no count job, no persist; the merge
            // is a single read→write pass
            (footerRowCount(fs, inputPaths.map(new Path(_))), raw)
          else {
            // replacing/aggregating merge: the expected count only
            // exists after the fold, so materialize once (count +
            // write share the cached plan instead of each running
            // the shuffle)
            val folded = serveFold(raw, opts).persist()
            (folded.count(), folded)
          }
        val sorted =
          if (opts.zorderCols.nonEmpty) {
            val zc = "__graft_z"
            val withZ = writeIn.withColumn(zc,
              zValue(writeIn, opts.zorderCols))
            val distributed =
              if (numParts > 1) withZ.repartitionByRange(numParts, col(zc))
              else withZ.repartition(1)
            distributed
              .sortWithinPartitions(col(zc) +: opts.sortCols.map(col): _*)
              .drop(zc)
          } else if (opts.sortCols.nonEmpty) {
            val distributed =
              if (opts.clusterByRange && numParts > 1)
                writeIn.repartitionByRange(numParts, opts.sortCols.map(col): _*)
              else writeIn.repartition(numParts)
            distributed.sortWithinPartitions(opts.sortCols.map(col): _*)
          } else writeIn.repartition(numParts)
        try sorted.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
        finally if (opts.replaceOn.nonEmpty || opts.sumOn.nonEmpty) writeIn.unpersist()
        val outFiles = fs.listStatus(tmp).map(_.getPath)
          .filter(_.getName.endsWith(".parquet")).toSeq
        val outCount = footerRowCount(fs, outFiles)
        validateMergedCount(inCount, outCount)
        // merged parts become visible files now but enter the
        // manifest only on commit below
        val written = fs.listStatus(tmp).map(_.getPath)
          .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
        val placed = written.zipWithIndex.map { case (p, i) =>
          val name = s"$MergedPrefix$target-$version-$passes-$i-${p.getName.take(16)}.parquet"
          val dest = new Path(dir, name)
          if (!fs.rename(p, dest))
            throw new IllegalStateException(s"could not place merged part $dest")
          name -> dest
        }.toSeq
        // merge outputs enter the manifest with blooms already built
        // (one pass over the merged data), so the backfill above only
        // ever touches fresh appends
        val mergedBlooms =
          if (opts.bloomCols.isEmpty) Map.empty[String, Map[String, PartBloom]]
          else computeBlooms(spark, placed.map(_._2),
            opts.bloomCols, opts.bloomHashes, opts.bloomBits,
            opts.mergeSchema)
        val merged = placed.map { case (name, dest) =>
          PartFile(name, target, fs.getFileStatus(dest).getLen,
            footerStats(fs, dest, opts.statsCols.toSet),
            mergedBlooms.getOrElse(name, Map.empty))
        }
        fs.delete(tmp, true)

        val inputNames = m.inputs.map(_.name).toSet
        parts = parts.filterNot(p => inputNames.contains(p.name)) ++ merged
        version += 1
        commitState(fs, dir, State(version, parts))
        // committed: inputs are now stale by manifest. With no
        // retention, delete them and every superseded manifest; with
        // retention R, the last R superseded generations stay
        // readable, so (a) a file any kept generation references
        // survives, and (b) generations falling off the horizon take
        // their exclusively-referenced files with them. File deletion
        // stays strictly BEFORE manifest deletion so a crash always
        // leaves a generation identifying what is stale.
        val allGens = manifestVersions(fs, dir)
        val horizonVs = allGens.takeRight(opts.retainGenerations + 1).map(_._1).toSet
        val keepVs = horizonVs ++ opts.pinnedGenerations
        val kept = allGens.filter { case (ver, _) => keepVs.contains(ver) }
        val protectedNames: Set[String] = parts.map(_.name).toSet ++
          kept.dropRight(1)
            .flatMap { case (_, p) => readState(fs, p).parts.map(_.name) }.toSet
        m.inputs.filterNot(p => protectedNames.contains(p.name))
          .foreach(p => fs.delete(new Path(dir, p.name), false))
        allGens.filterNot { case (ver, _) => keepVs.contains(ver) }
          .foreach { case (_, p) =>
            readState(fs, p).parts.map(_.name)
              .filterNot(protectedNames.contains)
              .foreach(n => fs.delete(new Path(dir, n), false))
            fs.delete(p, false)
          }
        merges += 1
      }
      planNow = plan(parts, opts)
    }
    if (passes == 0 && parts.nonEmpty && (state0.isEmpty || statsBackfilled)) {
      // adopt a manifest even when nothing merges, so readers gain
      // manifest isolation from the first run — and likewise commit a
      // stats-only refresh generation when backfill changed parts
      version += 1
      commitState(fs, dir, State(version, parts))
    }
    val converged = planNow.isEmpty
    if (!converged)
      System.err.println(s"[compact] $storeDir: maxPasses=${opts.maxPasses} " +
        s"exhausted with ${planNow.size} merge(s) still planned")
    Report(passes, merges, before.size, parts.size,
      before.map(_.size).sum, parts.map(_.size).sum, converged)
  }

  /** Read the store with manifest isolation: latest manifest parts
    * plus appends since, crash leftovers excluded — including
    * `merged-*` output orphaned before the FIRST commit, which a
    * plain directory read would double-count. A replacing store
    * (`opts.replaceOn`) additionally collapses to one row per key ON
    * READ — between merges a key updated since the last fold has rows
    * in two levels, and the LSM contract is that readers see only the
    * newest (the merge applies the same replacement physically). */
  /** The SNAPSHOT-consistent live part files of one store directory —
    * exactly what [[read]] would scan: the latest committed
    * manifest's parts plus adopted appends, never a merged part
    * alongside its superseded inputs and never an uncommitted
    * `merged-*` orphan. The accessor other stores (the IVF cells
    * index) route their reads through so a read racing a fold's
    * commit sees one generation or the other, NEVER a mix — the same
    * isolation the reference scan gets by snapshotting parts under
    * lock (reference: src/storage/src/db.rs:620-699). */
  private[graft] def livePartPaths(spark: SparkSession, dir: Path,
                                   opts: Options = Options()): Seq[Path] = {
    val (_, parts, _) = loadState(fsFor(spark, dir), dir, opts)
    parts.map(p => new Path(dir, p.name))
  }

  def read(spark: SparkSession, storeDir: String,
           opts: Options = Options()): DataFrame = {
    val dir = new Path(storeDir)
    val fs = fsFor(spark, dir)
    val (_, parts, _) = loadState(fs, dir, opts)
    val union =
      if (parts.isEmpty) spark.read.parquet(storeDir) // surface the reader's own error shape
      else readParts(spark, opts, None, parts.map(p => new Path(dir, p.name).toString))
    serveFold(minusTombstones(spark, dir, union), opts)
  }

  /** Parts of the live state split by whether `preds` can match them
    * ((kept, skipped)). Appends since the last [[run]] carry no stats
    * and are always kept. On a REPLACING store only predicates over
    * the replace key participate in pruning: a non-key predicate must
    * not skip the file holding a key's newest row, or dedup-on-read
    * would resurrect an older version — those predicates apply purely
    * as residual filters after the replacement. */
  def prunedParts(spark: SparkSession, storeDir: String, preds: Seq[PartPred],
                  opts: Options = Options()): (Seq[PartFile], Seq[PartFile]) = {
    val dir = new Path(storeDir)
    val (_, parts, _) = loadState(fsFor(spark, dir), dir, opts)
    val pruneOn =
      if (opts.replaceOn.isEmpty && opts.sumOn.isEmpty) preds
      else preds.filter(p => (opts.replaceOn ++ opts.sumOn).contains(p.column))
    parts.partition(p => pruneOn.forall(pr => partKeeps(p, pr)))
  }

  /** Dynamic file skipping from a query-time key set — the
    * storage-layer analog of dynamic partition pruning: materialize
    * the SMALL side's distinct keys (count-capped: throws over
    * `maxKeys` instead of silently degrading into a driver-side
    * collect of a big frame) as a [[PartIn]] over `column`, which
    * [[readPruned]]/[[readPartitionedPruned]] push through BOTH
    * manifest stats and the bloom index before Spark lists a single
    * file. The residual filter doubles as the semantic IN, so the
    * pruned read EQUALS the semi-join on the collected keys. */
  def partInFrom(keys: DataFrame, keyCol: String, column: String,
                 maxKeys: Int = 100000): PartPred = {
    val vals = keys.select(col(keyCol)).distinct().limit(maxKeys + 1)
      .collect().map(_.get(0)).toSeq
    require(vals.size <= maxKeys,
      s"dynamic-prune key set for $column exceeds maxKeys=$maxKeys; " +
        "use a join instead of part pruning at this cardinality")
    PartIn(column, vals)
  }

  // ---- keyed deletes (tombstones) and physical purge ---------------

  private val TombstoneDir = ".tombstones"

  /** Logical keyed deletion — the "right to be forgotten" operation a
    * long-lived store needs: record `keys` (a ONE-COLUMN frame whose
    * column names the delete key) as a tombstone file, after which
    * EVERY reader anti-joins live rows against the tombstone union —
    * including time-travel and snapshot reads, deliberately: an
    * erased key that stayed readable through an old manifest would
    * not be erased. Deletion is immediate and O(keys); the bytes are
    * reclaimed by the next [[purge]]. Deterministic `name` → retries
    * are idempotent. Delete-then-reinsert is NOT supported (the
    * tombstone has no ordering vs parts); reinsertions only become
    * visible after a purge clears the tombstones. */
  def deleteKeys(spark: SparkSession, storeDir: String, keys: DataFrame,
                 name: String): Unit = {
    require(keys.columns.length == 1,
      "tombstone keys must be a single-column frame naming the delete key")
    Store.atomicAppend(keys.distinct(),
      new Path(storeDir, TombstoneDir).toString, s"del-$name")
  }

  /** The live tombstone set of a store, if any: (keyColumn, keys). */
  private def tombstones(spark: SparkSession, dir: Path): Option[(String, DataFrame)] = {
    val fs = fsFor(spark, dir)
    val td = new Path(dir, TombstoneDir)
    if (!fs.exists(td)) return None
    val files = fs.listStatus(td).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).toSeq
    if (files.isEmpty) None
    else {
      val df = spark.read.parquet(files.map(_.toString): _*)
      require(df.columns.length == 1,
        s"mixed tombstone key columns in $td: ${df.columns.mkString(", ")}")
      Some((df.columns.head, df))
    }
  }

  /** Anti-join `rows` against the store's tombstones (no-op without
    * any). Every reader applies this BEFORE replace/sum folds, so a
    * deleted key loses every version at once. A row set lacking the
    * key column keeps all rows (its rows cannot carry a deleted
    * key). */
  private def minusTombstones(spark: SparkSession, dir: Path,
                              rows: DataFrame): DataFrame =
    tombstones(spark, dir) match {
      case Some((kc, keys)) if rows.columns.contains(kc) =>
        rows.join(keys, Seq(kc), "left_anti")
      case _ => rows
    }

  final case class PurgeReport(parts: Int, rowsBefore: Long, rowsAfter: Long,
      tombstonedKeys: Long, generationsDropped: Int)

  /** Physical erasure: rewrite every live part minus the tombstoned
    * rows (one job per part — layout, levels and file granularity
    * preserved), commit the purged manifest, then drop the tombstones
    * AND every superseded generation, retention horizon and pins
    * included — the one operation that deliberately collapses
    * history, because a purge that left erased rows readable through
    * time travel would not be an erasure. Row accounting is validated
    * globally BEFORE the commit: rowsBefore − rowsAfter must equal
    * the store's matched row count or the purge aborts with nothing
    * changed. Crash-safe like a merge: rewrite output uses the
    * merged-* name space (uncommitted output is swept as stale), the
    * commit is one manifest rename, and old files are deleted only
    * after it. */
  def purge(spark: SparkSession, storeDir: String,
            opts: Options = Options()): PurgeReport =
    purgeImpl(spark, new Path(storeDir), opts, new Path(storeDir),
      dropTombstones = true)

  private def purgeImpl(spark: SparkSession, dir: Path, opts: Options,
                        tombstoneRoot: Path,
                        dropTombstones: Boolean): PurgeReport = {
    val fs = fsFor(spark, dir)
    require(fs.exists(dir), s"store directory $dir does not exist")
    val (state0, parts, stale) = loadState(fs, dir, opts)
    stale.foreach(p => fs.delete(p, false))
    val pre = footerRowCount(fs, parts.map(p => new Path(dir, p.name)))
    tombstones(spark, tombstoneRoot) match {
      case None => PurgeReport(parts.size, pre, pre, 0L, 0)
      case Some((kc, keys0)) =>
        val keys = keys0.persist()
        try {
          val keyCount = keys.count()
          val matched =
            if (parts.isEmpty) 0L
            else readParts(spark, opts, None,
              parts.map(p => new Path(dir, p.name).toString))
              .join(keys, Seq(kc), "left_semi").count()
          val version = state0.map(_.version).getOrElse(0L) + 1
          val rewritten = parts.zipWithIndex.flatMap { case (p, i) =>
            val src = new Path(dir, p.name)
            val df = spark.read.parquet(src.toString)
            val kept =
              if (df.columns.contains(kc)) df.join(keys, Seq(kc), "left_anti")
              else df
            val tmp = new Path(dir, s".purge-$version-$i")
            kept.repartition(1).write.mode(SaveMode.Overwrite).parquet(tmp.toString)
            val out = fs.listStatus(tmp).map(_.getPath)
              .filter(_.getName.endsWith(".parquet")).toSeq
            val rows = footerRowCount(fs, out)
            val placed =
              if (rows == 0L) None // a fully-erased part disappears
              else {
                val name = s"$MergedPrefix${p.level}-$version-purge-$i-${out.head.getName.take(16)}.parquet"
                val dest = new Path(dir, name)
                if (!fs.rename(out.head, dest))
                  throw new IllegalStateException(s"could not place purged part $dest")
                Some(PartFile(name, p.level, fs.getFileStatus(dest).getLen,
                  footerStats(fs, dest, opts.statsCols.toSet)))
              }
            fs.delete(tmp, true)
            placed
          }
          // blooms for the purged parts in one pass, as a merge would
          val withBlooms =
            if (opts.bloomCols.isEmpty || rewritten.isEmpty) rewritten
            else {
              val built = computeBlooms(spark,
                rewritten.map(p => new Path(dir, p.name)),
                opts.bloomCols, opts.bloomHashes, opts.bloomBits,
                opts.mergeSchema)
              rewritten.map(p =>
                built.get(p.name).fold(p)(bs => p.copy(blooms = bs)))
            }
          val post = footerRowCount(fs, withBlooms.map(p => new Path(dir, p.name)))
          require(pre - post == matched,
            s"purge would mis-account rows ($pre - $post != $matched matched); aborting before commit")
          commitState(fs, dir, State(version, withBlooms))
          // committed: erase the past — old parts, every superseded
          // manifest (horizon and pins included), and the tombstones
          parts.foreach(p => fs.delete(new Path(dir, p.name), false))
          val gens = manifestVersions(fs, dir)
          val dropped = gens.dropRight(1)
          dropped.foreach { case (_, mp) => fs.delete(mp, false) }
          if (dropTombstones)
            fs.delete(new Path(tombstoneRoot, TombstoneDir), true)
          PurgeReport(parts.size, pre, post, keyCount, dropped.size)
        } finally { keys.unpersist(); () }
    }
  }

  /** TTL at the partition layer: drop WHOLE leaf directories of a
    * directory-partitioned store whose `column=value` is strictly
    * below `cutoff` — at 100 TB, data expiry must be a directory
    * delete, never a scan-and-rewrite. Values compare as their
    * partition-encoded strings, which for ISO dates and zero-padded
    * numerics is value order (document the padding if you TTL a
    * numeric dimension). Directories of other columns are recursed,
    * never touched. Returns the dropped directories' store-relative
    * paths. A table snapshot pinning a dropped leaf will THROW on its
    * next read — expiry deliberately beats snapshot reproducibility,
    * the same precedence purge takes over time travel. */
  def dropPartitionsBefore(spark: SparkSession, rootDir: String,
                           column: String, cutoff: String): Seq[String] = {
    val root = new Path(rootDir)
    val fs = fsFor(spark, root)
    require(fs.exists(root), s"store directory $rootDir does not exist")
    val prefix = column + "="
    def walk(p: Path): Seq[Path] = fs.listStatus(p).toSeq
      .filter(_.isDirectory)
      .filterNot(s => s.getPath.getName.startsWith(".") ||
        s.getPath.getName.startsWith("_"))
      .flatMap { st =>
        val name = st.getPath.getName
        if (name.startsWith(prefix)) {
          if (name.stripPrefix(prefix) < cutoff) Seq(st.getPath) else Nil
        } else walk(st.getPath)
      }
    val base = fs.makeQualified(root).toUri.getPath
    val doomed = walk(root)
    doomed.foreach(p => fs.delete(p, true))
    doomed.map(p => fs.makeQualified(p).toUri.getPath
      .stripPrefix(base).stripPrefix("/"))
  }

  /** The data leaves of a directory-partitioned store: the deepest
    * directories under `root` that hold parquet files, each with its
    * store-relative path. Dot and underscore entries are skipped at
    * every level: underscore dirs are writer bookkeeping (_temporary
    * holds an in-flight job's task files — compacting THOSE would
    * delete a concurrent write's uncommitted output), the same
    * exclusion as loadState's listing. */
  private def dataLeaves(fs: FileSystem, root: Path): Seq[(Path, String)] = {
    require(fs.exists(root), s"store directory $root does not exist")
    def leaves(p: Path): Seq[Path] = {
      val dirs = fs.listStatus(p).toSeq
        .filterNot(s => s.getPath.getName.startsWith(".") ||
          s.getPath.getName.startsWith("_"))
        .filter(_.isDirectory)
      if (dirs.isEmpty) Seq(p) else dirs.flatMap(d => leaves(d.getPath))
    }
    val base = fs.makeQualified(root).toUri.getPath
    leaves(root)
      .filter(l => fs.listStatus(l).exists(_.getPath.getName.endsWith(".parquet")))
      .map(l => l -> fs.makeQualified(l).toUri.getPath.stripPrefix(base).stripPrefix("/"))
  }

  /** [[purge]] over a directory-partitioned store: tombstones live at
    * the ROOT (`deleteKeys(root, …)`), every leaf purges against
    * them, and the tombstone set is dropped only after ALL leaves
    * purged — a crash mid-way leaves remaining leaves still logically
    * deleted and re-purgeable. */
  def purgePartitioned(spark: SparkSession, rootDir: String,
                       opts: Options = Options()): Map[String, PurgeReport] = {
    val root = new Path(rootDir)
    val fs = fsFor(spark, root)
    val out = dataLeaves(fs, root).map { case (l, rel) =>
      rel -> purgeImpl(spark, l, opts, root, dropTombstones = false)
    }.toMap
    fs.delete(new Path(root, TombstoneDir), true)
    out
  }

  final case class PruneReport(keptFiles: Int, skippedFiles: Int,
      keptBytes: Long, skippedBytes: Long)

  /** Skipping effectiveness for `preds` without reading any data. */
  def pruneReport(spark: SparkSession, storeDir: String, preds: Seq[PartPred],
                  opts: Options = Options()): PruneReport = {
    val (kept, skipped) = prunedParts(spark, storeDir, preds, opts)
    PruneReport(kept.size, skipped.size, kept.map(_.size).sum, skipped.map(_.size).sum)
  }

  /** [[read]] restricted by manifest statistics: parts whose
    * [[Options.statsCols]] bounds cannot satisfy `preds` are never
    * even LISTED to Spark, and the equivalent Column filter is still
    * applied on top, so the result is identical to
    * `read(...).filter(preds)` with strictly less IO. The scan that
    * survives keeps row-group pruning and pushed filters — this layer
    * sits above both. */
  def readPruned(spark: SparkSession, storeDir: String, preds: Seq[PartPred],
                 opts: Options = Options()): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val dir = new Path(storeDir)
    val (kept, skipped) = prunedParts(spark, storeDir, preds, opts)
    val union =
      if (kept.nonEmpty)
        readParts(spark, opts, None, kept.map(p => new Path(dir, p.name).toString))
      else if (skipped.nonEmpty)
        // everything pruned: keep the schema, return no rows
        spark.read.parquet(new Path(dir, skipped.head.name).toString)
          .filter(lit(false))
      else spark.read.parquet(storeDir) // surface the reader's own error shape
    preds.map(predColumn)
      .foldLeft(serveFold(minusTombstones(spark, dir, union), opts))(_ filter _)
  }

  /** [[readPruned]] over a directory-partitioned store: Catalyst's
    * partition pruning handles the directory dimensions
    * (project/date) through the residual filter, and each leaf's
    * manifest stats skip parts within the surviving leaves — the two
    * skipping layers the canonical events layout wants at 100 TB
    * (tenant+day directories × per-part (user, ts) ranges). */
  def readPartitionedPruned(spark: SparkSession, rootDir: String,
                            preds: Seq[PartPred],
                            opts: Options = Options()): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val root = new Path(rootDir)
    val fs = fsFor(spark, root)
    val pruneOn =
      if (opts.replaceOn.isEmpty && opts.sumOn.isEmpty) preds
      else preds.filter(p => (opts.replaceOn ++ opts.sumOn).contains(p.column))
    // ONE recursive listing serves both the kept-file scan and the
    // fold-key derivation below — at 100k leaves a second walk would
    // double the namenode round-trips for nothing.
    val leaves = dataLeaves(fs, root)
    val keptFiles = leaves.flatMap { case (l, _) =>
      val (_, parts, _) = loadState(fs, l, opts)
      parts.filter(p => pruneOn.forall(pr => partKeeps(p, pr)))
        .map(p => new Path(l, p.name).toString)
    }
    val union =
      if (keptFiles.nonEmpty)
        readParts(spark, opts, Some(rootDir), keptFiles)
      else spark.read.parquet(rootDir).filter(lit(false))
    // serveFold BEFORE the residual filters, like readPruned: pruneOn
    // already restricted manifest pruning to the fold-key columns so
    // every version of a surviving key is in `union` — without the
    // fold a replaceOn store would serve superseded versions and a
    // sumOn store un-summed partials. The directory partition columns
    // implicitly extend the fold key: the unit of compaction is the
    // leaf (runPartitioned folds per leaf with these same opts), so
    // the serve fold matches — each leaf serves its own newest
    // versions / summed partials and read ≡ compact-then-read. (A
    // global fold would also nonsensically SUM the partition columns
    // of a sumOn store.)
    // Every leaf must agree on the `col=` layout: a heterogeneous
    // store (mixed leaf depths, or a first leaf whose path is
    // unrepresentative) would silently hand the OTHER leaves a wrong
    // fold key — folding replaceOn/sumOn rows across partitions or
    // failing to. Fail loudly instead of serving folded-wrong rows.
    val partCols: Seq[String] =
      if (opts.replaceOn.isEmpty && opts.sumOn.isEmpty) Nil
      else {
        val perLeaf = leaves.map { case (_, rel) =>
          rel.split("/").toSeq.filter(_.contains("=")).map(_.split("=", 2)(0))
        }.distinct
        require(perLeaf.size <= 1,
          s"heterogeneous partition layouts under $rootDir (" +
            perLeaf.map(_.mkString("/")).mkString(" vs ") +
            ") — the serve-fold key would be wrong for some leaves")
        perLeaf.headOption.getOrElse(Nil)
      }
    val foldOpts = opts.copy(
      replaceOn = if (opts.replaceOn.isEmpty) Nil
                  else (partCols ++ opts.replaceOn).distinct,
      sumOn = if (opts.sumOn.isEmpty) Nil
              else (partCols ++ opts.sumOn).distinct)
    preds.map(predColumn)
      .foldLeft(serveFold(minusTombstones(spark, root, union), foldOpts))(_ filter _)
  }

  /** Manifest generations currently readable, oldest first. */
  def snapshotVersions(spark: SparkSession, storeDir: String): Seq[Long] = {
    val dir = new Path(storeDir)
    manifestVersions(fsFor(spark, dir), dir).map(_._1)
  }

  /** Time-travel read: exactly the parts a COMMITTED generation
    * names — the reproducibility contract a training pipeline needs
    * ("the dataset as of snapshot v", regardless of every append and
    * merge since). Requires the generation to be within the store's
    * `retainGenerations` horizon (or the latest); a missing part is
    * data loss and throws rather than serving a partial snapshot.
    * Appends newer than the generation are invisible by definition —
    * a snapshot is a manifest, not a directory listing. */
  def readVersion(spark: SparkSession, storeDir: String, version: Long,
                  opts: Options = Options()): DataFrame = {
    val dir = new Path(storeDir)
    val fs = fsFor(spark, dir)
    val gens = manifestVersions(fs, dir)
    val manifest = gens.collectFirst { case (v, p) if v == version => p }
      .getOrElse(throw new IllegalArgumentException(
        s"store $storeDir has no snapshot $version; readable: " +
          gens.map(_._1).mkString(", ")))
    val state = readState(fs, manifest)
    val missing = state.parts.filterNot(p => fs.exists(new Path(dir, p.name)))
    if (missing.nonEmpty) throw new IllegalStateException(
      s"snapshot $version of $storeDir is missing parts: " +
        missing.map(_.name).mkString(", "))
    val union = readParts(spark, opts, None,
      state.parts.map(p => new Path(dir, p.name).toString))
    serveFold(minusTombstones(spark, dir, union), opts)
  }

  /** Compact every leaf partition directory of a
    * directory-partitioned store ([[Store.writeEvents]]' layout —
    * `event_date=…/` or `project_id=…/event_date=…/`). Each leaf
    * compacts independently with its own manifest: at 100 TB the
    * unit of compaction is the partition, never the table, so one
    * hot day's small files never force a rewrite of cold history.
    * Plain `spark.read.parquet(root)` readers see leaf listings, so
    * after a crash run this again (the per-leaf sweep removes
    * uncommitted merge output) before trusting directory reads.
    * Returns per-leaf reports keyed by relative partition path. */
  def runPartitioned(spark: SparkSession, rootDir: String,
                     opts: Options = Options()): Map[String, Report] = {
    val root = new Path(rootDir)
    val fs = fsFor(spark, root)
    // table-level snapshots pin one generation per leaf; every pinned
    // generation joins that leaf's protected set so per-leaf
    // compaction can never reclaim a snapshot the table still serves
    val pins: Map[String, Set[Long]] = snapshotStates(fs, root)
      .flatMap { case (_, ls) => ls }
      .groupBy(_._1).map { case (rel, vs) => rel -> vs.map(_._2).toSet }
    // r19-opt: leaves compact CONCURRENTLY (bounded) — each leaf's
    // run() is a self-contained listing+manifest+merge cycle over a
    // DISJOINT directory, and a sequential sweep pays
    // sum-of-(driver round trips + small merge jobs) across leaves;
    // at real partition counts (a tenant×date store has thousands of
    // leaves, a cells store one per cell_id) the sweep wall was
    // leaf-count-proportional for work that is embarrassingly
    // parallel. Reports and on-disk results are identical — only the
    // sweep order is nondeterministic, and leaves are independent by
    // layout.
    val targets = dataLeaves(fs, root)
    graft.engine.Staging.concurrently[(String, Report)](
      targets.map { case (l, rel) => () =>
        rel -> run(spark, l.toString, opts.copy(pinnedGenerations =
          opts.pinnedGenerations ++ pins.getOrElse(rel, Set.empty)))
      }, maxParallel = 8).toMap
  }

  // ---- table-level snapshots over a partitioned store --------------

  private val SnapshotPrefix = "_graft_snapshot-"

  private def snapshotStates(fs: FileSystem, root: Path): Seq[(Long, Seq[(String, Long)])] = {
    if (!fs.exists(root)) return Seq.empty
    fs.listStatus(root).toSeq.map(_.getPath)
      .filter(_.getName.startsWith(SnapshotPrefix))
      .flatMap { p =>
        val id = p.getName.stripPrefix(SnapshotPrefix).stripSuffix(".json")
        id.toLongOption.map { v =>
          val j = Json.parse(readFully(fs, p))
          v -> (j / "leaves").arr.map(e => ((e / "leaf").str, (e / "gen").long))
        }
      }.sortBy(_._1)
  }

  private def readFully(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      new String(out.toByteArray, StandardCharsets.UTF_8)
    } finally in.close()
  }

  /** Pin the CURRENT generation of every leaf of a partitioned store
    * as one table-level snapshot and return its id. A snapshot is a
    * consistent cut: the set of (leaf → manifest generation) pairs at
    * capture time, committed atomically at the root. Leaves must
    * carry manifests (run [[runPartitioned]] once first) — a
    * manifest-less leaf has no committed generation to pin, and
    * pinning a directory listing would not be a snapshot.
    * [[runPartitioned]] protects pinned generations from the
    * retention horizon until [[dropSnapshotPartitioned]] releases
    * them. */
  def snapshotPartitioned(spark: SparkSession, rootDir: String): Long = {
    val root = new Path(rootDir)
    val fs = fsFor(spark, root)
    val entries = dataLeaves(fs, root).map { case (l, rel) =>
      val gens = manifestVersions(fs, l)
      require(gens.nonEmpty,
        s"leaf $rel has parquet but no manifest; runPartitioned first")
      rel -> gens.last._1
    }
    require(entries.nonEmpty, s"store $rootDir has no leaves to snapshot")
    val id = snapshotStates(fs, root).lastOption.map(_._1).getOrElse(0L) + 1L
    val body = entries.map { case (rel, gen) =>
      s"""{"leaf":${JStr(rel).render},"gen":$gen}"""
    }.mkString("[", ",", "]")
    val tmp = new Path(root, s".$SnapshotPrefix$id.tmp")
    val out = fs.create(tmp, true)
    try out.write(s"""{"id":$id,"leaves":$body}""".getBytes(StandardCharsets.UTF_8))
    finally out.close()
    val dest = new Path(root, s"$SnapshotPrefix$id.json")
    if (!fs.rename(tmp, dest))
      throw new IllegalStateException(s"could not commit snapshot $dest")
    id
  }

  /** Table-level snapshot ids currently committed, oldest first. */
  def partitionedSnapshots(spark: SparkSession, rootDir: String): Seq[Long] = {
    val root = new Path(rootDir)
    snapshotStates(fsFor(spark, root), root).map(_._1)
  }

  /** Release a table-level snapshot: its per-leaf generations lose
    * their pin and expire with the normal retention horizon at the
    * next [[runPartitioned]]. */
  def dropSnapshotPartitioned(spark: SparkSession, rootDir: String, id: Long): Unit = {
    val root = new Path(rootDir)
    val fs = fsFor(spark, root)
    val p = new Path(root, s"$SnapshotPrefix$id.json")
    require(fs.exists(p), s"store $rootDir has no snapshot $id")
    fs.delete(p, false): Unit
  }

  /** Read a partitioned store exactly as of a table-level snapshot:
    * the union of every leaf's pinned generation, with partition
    * columns restored from the directory layout (basePath read).
    * Missing manifest or part = loud failure, never a partial
    * snapshot. */
  def readSnapshotPartitioned(spark: SparkSession, rootDir: String, id: Long,
                              opts: Options = Options()): DataFrame = {
    val root = new Path(rootDir)
    val fs = fsFor(spark, root)
    val snap = snapshotStates(fs, root).collectFirst { case (v, ls) if v == id => ls }
      .getOrElse(throw new IllegalArgumentException(
        s"store $rootDir has no snapshot $id; readable: " +
          snapshotStates(fs, root).map(_._1).mkString(", ")))
    val files = snap.flatMap { case (rel, gen) =>
      val leaf = new Path(root, rel)
      val manifest = manifestVersions(fs, leaf)
        .collectFirst { case (v, p) if v == gen => p }
        .getOrElse(throw new IllegalStateException(
          s"snapshot $id of $rootDir pins generation $gen of leaf $rel, " +
            "but that manifest is gone"))
      val state = readState(fs, manifest)
      val missing = state.parts.filterNot(p => fs.exists(new Path(leaf, p.name)))
      if (missing.nonEmpty) throw new IllegalStateException(
        s"snapshot $id of $rootDir is missing parts of leaf $rel: " +
          missing.map(_.name).mkString(", "))
      state.parts.map(p => new Path(leaf, p.name).toString)
    }
    val union = readParts(spark, opts, Some(rootDir), files)
    serveFold(minusTombstones(spark, root, union), opts)
  }

  /** Level occupancy for observability (file count + bytes per
    * level), from the live state. */
  def levels(spark: SparkSession, storeDir: String,
             opts: Options = Options()): Map[Int, (Int, Long)] = {
    val dir = new Path(storeDir)
    val (_, parts, _) = loadState(fsFor(spark, dir), dir, opts)
    parts.groupBy(_.level).map { case (l, ps) => l -> (ps.size, ps.map(_.size).sum) }
  }
}
