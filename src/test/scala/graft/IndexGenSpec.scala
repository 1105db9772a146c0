package graft

import graft.pipeline.{IndexGen, IndexLayout, Similarity, TextAnalysis}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Versioned index generations: atomic rebuild/retrain, search
  * isolation (old XOR new, never a mix), crash-mid-rebuild safety,
  * and the flat-artifact compatibility contract. */
class IndexGenSpec extends SparkTestBase {

  private def tmpDir(tag: String): String = {
    val f = java.io.File.createTempFile(tag, "")
    f.delete(); f.getAbsolutePath
  }

  /** Deterministic corpus: vec(i)[j] from a hash, ids 0..n-1. The tag
    * scrambles the ROW multiplier (not just an additive shift, which
    * would leave cosine orderings intact). */
  private def corpus(n: Int, dims: Int, tag: String = "v"): DataFrame = {
    import spark.implicits._
    val mult = 31 + 137 * (tag.hashCode.abs % 11)
    (0 until n).map { i =>
      val v = (0 until dims).map { j =>
        (((i * mult + j * 7 + tag.hashCode).abs % 2001) - 1000) / 1000.0f
      }
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
  }

  private def queriesOf(c: DataFrame, n: Int = 5): DataFrame =
    c.filter(col("vec_id") < n)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))

  /** A flat index over `c` with a codebook trained from `c` itself. */
  private def flatIndex(c: DataFrame, path: String, nCells: Int,
                        iters: Int): Unit =
    Similarity.build(c, "vec_id", "embedding", path, IndexLayout.Flat,
      Seq(Similarity.trainCodebook(c, "vec_id", "embedding", nCells, iters)))

  private def searchRows(path: String, q: DataFrame): Seq[(Long, Long, Long)] =
    Similarity.search(spark, q, "q_id", "q_vec", path,
        "vec_id", "embedding", k = 3, nProbe = 2)
      .select(col("q_id"), col("vec_id"), col("rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq.sorted

  test("flat artifacts resolve to themselves; first commit flips resolution") {
    val path = tmpDir("gen-flat")
    val c = corpus(80, 8)
    flatIndex(c, path, nCells = 4, iters = 1)
    assert(IndexGen.currentGen(spark, path).isEmpty)
    assert(IndexGen.resolveRoot(spark, path) == path)
    val flat = searchRows(path, queriesOf(c))
    assert(flat.nonEmpty)
    val gen = IndexGen.commitNewGeneration(spark, path)(dir =>
      flatIndex(c, dir, nCells = 4, iters = 1))
    assert(gen == 0L)
    assert(IndexGen.resolveRoot(spark, path) == s"$path/gen=0")
    // same corpus, same training → identical search through the generation
    assert(searchRows(path, queriesOf(c)) == flat)
  }

  test("crash mid-rebuild leaves the old generation serving") {
    val path = tmpDir("gen-crash")
    val c = corpus(80, 8)
    flatIndex(c, path, nCells = 4, iters = 1)
    val before = searchRows(path, queriesOf(c))
    intercept[RuntimeException] {
      IndexGen.commitNewGeneration(spark, path) { dir =>
        // write a PARTIAL artifact (codebook only, no cells), then die
        spark.read.parquet(s"$path/codebook")
          .write.mode("overwrite").parquet(s"$dir/codebook")
        throw new RuntimeException("simulated crash mid-rebuild")
      }
    }
    // no marker → the half-written gen dir is invisible garbage
    assert(IndexGen.currentGen(spark, path).isEmpty)
    assert(searchRows(path, queriesOf(c)) == before)
    // and a LATER retrain reuses/replaces the dead dir cleanly
    val (gen, steps) = Similarity.retrain(spark, path,
      "vec_id", "embedding", maxIters = 1)
    assert(gen == 0L && steps == 1)
    assert(searchRows(path, queriesOf(c)).nonEmpty)
  }

  test("a rebuild that loses the race for its generation number throws; readers keep the winner") {
    val path = tmpDir("gen-race")
    val c = corpus(80, 8)
    IndexGen.commitNewGeneration(spark, path)(dir => flatIndex(c, dir, nCells = 4, iters = 1))
    val w = corpus(80, 8, "w")
    val winnerOnly = tmpDir("gen-race-w")
    flatIndex(w, winnerOnly, nCells = 4, iters = 1)
    val err = intercept[IllegalStateException] {
      IndexGen.commitNewGeneration(spark, path) { dir =>
        flatIndex(c, dir, nCells = 4, iters = 1)
        // a concurrent rebuild that resolved the same current
        // generation builds and commits generation 1 first
        assert(IndexGen.commitNewGeneration(spark, path)(d =>
          flatIndex(w, d, nCells = 4, iters = 1)) == 1L)
      }
    }
    assert(err.getMessage.contains("generation 1"))
    assert(IndexGen.currentGen(spark, path).contains(1L))
    assert(searchRows(path, queriesOf(w)) == searchRows(winnerOnly, queriesOf(w)))
  }

  test("retrain(build(iters=0), 1 step) == build(iters=1); deletes purge physically") {
    val c = corpus(100, 8)
    val q = queriesOf(c)
    // reference: one-shot trained build
    val ref = tmpDir("gen-ref")
    flatIndex(c, ref, nCells = 4, iters = 1)
    val expected = searchRows(ref, q)
    // seed build + atomic retrain
    val path = tmpDir("gen-retrain")
    flatIndex(c, path, nCells = 4, iters = 0)
    val (gen, steps) = Similarity.retrain(spark, path,
      "vec_id", "embedding", maxIters = 1)
    assert(gen == 0L && steps == 1)
    assert(searchRows(path, q) == expected)
    // erasure carries forward physically: delete a cohort, retrain,
    // and the new generation holds no trace (no delete set, rows gone)
    import spark.implicits._
    Similarity.deleteFromIndex(spark, path,
      Seq(7L, 11L).toDF("vec_id"), "gdpr")
    val hidden = searchRows(path, q)
    assert(!hidden.exists(r => r._2 == 7L || r._2 == 11L))
    val (gen2, _) = Similarity.retrain(spark, path,
      "vec_id", "embedding", maxIters = 1)
    assert(gen2 == 1L)
    val root2 = IndexGen.resolveRoot(spark, path)
    assert(root2.endsWith("gen=1"))
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root2/deletes")))
    val live = spark.read.parquet(s"$root2/cells")
      .select(col("vec_id").cast("long")).as[Long].collect().toSet
    assert(!live.contains(7L) && !live.contains(11L) && live.size == 98)
    // the deleted ids stay invisible after the physical rebuild too
    // (centroids moved a step, so ranks may differ from `hidden` —
    // the erasure property is what must hold)
    assert(!searchRows(path, q).exists(r => r._2 == 7L || r._2 == 11L))
  }

  test("searches concurrent with a rebuild see old XOR new, never a mix") {
    val path = tmpDir("gen-conc")
    val cOld = corpus(80, 8)
    val cNew = corpus(80, 8, tag = "w") // different vectors, same ids
    val q = queriesOf(cOld)
    flatIndex(cOld, path, nCells = 4, iters = 1)
    val oldRows = searchRows(path, q)
    // the new generation's expected result, computed via a throwaway
    // index built the same way
    val refNew = tmpDir("gen-conc-ref")
    flatIndex(cNew, refNew, nCells = 4, iters = 1)
    val newRows = searchRows(refNew, q)
    assert(oldRows != newRows, "fixture must distinguish generations")
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Seq[(Long, Long, Long)]]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val searcher = new Thread(() => {
      try while (!stop.get()) seen.add(searchRows(path, q))
      catch { case t: Throwable => err.set(t) }
    })
    searcher.start()
    try IndexGen.commitNewGeneration(spark, path)(dir =>
      flatIndex(cNew, dir, nCells = 4, iters = 1))
    finally { stop.set(true); searcher.join(60000) }
    assert(err.get() == null, s"concurrent search failed: ${err.get()}")
    // one more search after the commit must serve the new generation
    assert(searchRows(path, q) == newRows)
    val outcomes = seen.toArray(Array.empty[Seq[(Long, Long, Long)]]).toSeq
    assert(outcomes.nonEmpty)
    val bad = outcomes.filterNot(r => r == oldRows || r == newRows)
    assert(bad.isEmpty, s"mixed-generation read observed: ${bad.headOption}")
  }

  test("gcGenerations reclaims superseded generations, keeps the serving one") {
    val path = tmpDir("gen-gc")
    val c = corpus(60, 8)
    flatIndex(c, path, nCells = 4, iters = 0)
    Similarity.retrain(spark, path, "vec_id", "embedding", maxIters = 1)
    Similarity.retrain(spark, path, "vec_id", "embedding", maxIters = 1)
    assert(IndexGen.currentGen(spark, path).contains(1L))
    val q = queriesOf(c)
    val served = searchRows(path, q)
    val dropped = IndexGen.gcGenerations(spark, path, keep = 1,
      dropFlat = true, flatSubdirs = Seq("codebook", "cells"))
    assert(dropped == Seq(0L))
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/gen=0")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/cells")))
    assert(searchRows(path, q) == served)
  }

  test("composed IVF×PQ retrain commits one generation; search follows") {
    val path = tmpDir("gen-pq")
    val c = corpus(100, 8)
    Similarity.build(c, "vec_id", "embedding", path,
      IndexLayout.Pq(m = 2, kCents = 4),
      Seq(Similarity.syntheticCodebook(spark, nCells = 4, dims = 8)))
    val q = queriesOf(c)
    def pqRows() = Similarity.search(spark, q, "q_id", "q_vec",
        path, "vec_id", "embedding", k = 3, nProbe = 2, shortlist = Some(6))
      .select(col("q_id"), col("vec_id"), col("rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq.sorted
    val flat = pqRows()
    val (gen, _) = Similarity.retrain(spark, path,
      "vec_id", "embedding", maxIters = 1, pqIters = 1)
    assert(gen == 0L)
    assert(IndexGen.resolveRoot(spark, path) == s"$path/gen=0")
    val retrained = pqRows()
    assert(retrained.nonEmpty)
    assert(flat.nonEmpty)
    // appends now land in the committed generation
    Similarity.append(
      corpus(110, 8).filter(col("vec_id") >= 100), "vec_id", "embedding",
      path, batchId = 0L)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val genCells = spark.read.parquet(s"$path/gen=0/cells")
    import spark.implicits._
    assert(genCells.select(col("vec_id").cast("long")).as[Long]
      .collect().toSet.contains(105L))
  }

  test("GenCache: analyzer reads memoize per committed generation; flat roots read through; a new generation is a new key") {
    import spark.implicits._
    import graft.pipeline.GenCache
    val docs = Seq((1L, "alpha beta"), (2L, "beta gamma"))
      .toDF("doc_id", "text")
    val path = tmpDir("gen-cache")
    val an = TextAnalysis.Analyzer(lowercase = true)
    TextAnalysis.buildTextIndex(docs, "doc_id", "text", path, an)
    GenCache.clear()
    // flat artifact: mutable in place, so never cached
    assert(TextAnalysis.readAnalyzer(spark, path) == an)
    assert(GenCache.size == 0)
    // committed generation: one head per generation, not per read
    TextAnalysis.rebuildTextIndex(docs, "doc_id", "text", path, an)
    val root0 = IndexGen.resolveRoot(spark, path)
    assert(root0.endsWith("gen=0"))
    assert(TextAnalysis.readAnalyzer(spark, root0) == an)
    val after1 = GenCache.size
    assert(after1 >= 1)
    assert(TextAnalysis.readAnalyzer(spark, root0) == an)
    assert(GenCache.size == after1, "a repeat read must hit the cache")
    // a rebuild with a DIFFERENT analyzer commits gen=1 — a new key,
    // so the stale gen=0 entry can never serve the new generation
    val an2 = TextAnalysis.Analyzer(lowercase = true, stemmer = true)
    TextAnalysis.rebuildTextIndex(docs, "doc_id", "text", path, an2)
    assert(TextAnalysis.readAnalyzer(spark,
      IndexGen.resolveRoot(spark, path)) == an2)
    assert(GenCache.size > after1)
  }

  test("analyzer stemmer: plural queries match singular corpus through the persisted analyzer; phrase adjacency holds over stemmed tokens") {
    import spark.implicits._
    val docs = Seq(
      (1L, "fast columns scan quickly"),
      (2L, "one column scans slowly"),
      (3L, "entries buses classes files")).toDF("doc_id", "text")
    val path = tmpDir("gen-stem")
    val an = TextAnalysis.Analyzer(lowercase = true, stemmer = true)
    TextAnalysis.buildTextIndex(docs, "doc_id", "text", path, an)
    // the persisted analyzer reads back with its stemmer flag
    assert(TextAnalysis.readAnalyzer(spark, path) == an)
    def hits(terms: Seq[String]) =
      TextAnalysis.termLookupAll(spark, path, terms)
        .select(col("doc_id")).as[Long].collect().toSet
    // plural mixed-case query meets singular corpus (and vice versa:
    // doc 1's "columns" merged into the same stem postings)
    assert(hits(Seq("Columns")) == Set(1L, 2L))
    assert(hits(Seq("column", "SCANS")) == Set(1L, 2L))
    // guarded rules: -ies→y, -es→e, -s→∅ with u/s guards — the
    // driver-side twin must agree with the column expression token
    // for token
    val viaCol = Seq("entries", "buses", "classes", "files", "bus",
        "class", "ties", "goes", "windows").toDF("t")
      .select(TextAnalysis.Analyzer.stemToken(col("t")).as("s"))
      .as[String].collect().toSeq
    val viaTerm = Seq("entries", "buses", "classes", "files", "bus",
      "class", "ties", "goes", "windows")
      .map(TextAnalysis.Analyzer.stemTerm)
    assert(viaCol == viaTerm, s"$viaCol vs $viaTerm")
    assert(TextAnalysis.Analyzer.stemTerm("entries") == "entry")
    assert(TextAnalysis.Analyzer.stemTerm("windows") == "window")
    assert(TextAnalysis.Analyzer.stemTerm("bus") == "bus")
    assert(TextAnalysis.Analyzer.stemTerm("class") == "class")
    // the stemmer maps tokens 1:1, so phrase adjacency carries over
    // stemmed streams: "columns scan" and "column scans" both hit
    // the stemmed phrase ["column", "scan"]
    val phrase = TextAnalysis.phraseLookup(spark, path,
        Seq("Columns", "Scans"))
      .select(col("doc_id")).as[Long].collect().toSet
    assert(phrase == Set(1L, 2L))
  }

  test("two-level retrain commits a generation under the persisted coarseProbe; retrainDispatch picks the layout; maybeRetrain trips on thresholds") {
    import spark.implicits._
    // clustered corpus: 4 real clusters so Lloyd steps measurably
    // lower drift from the seed centroids
    val c = (0 until 120).map { i =>
      val cl = i % 4
      val v = (0 until 8).map { j =>
        (((cl * 997 + j * 131).abs % 2001) - 1000) / 1000.0f +
          (((i * 31 + j * 7) % 201) - 100) / 2000.0f
      }
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    // --- two-level artifact ---
    val path2l = tmpDir("gen-2l")
    Similarity.build(c, "vec_id", "embedding", path2l,
      IndexLayout.TwoLevel(coarseProbe = 2),
      Seq(Similarity.seedCodebook(c, "vec_id", "embedding", 8),
        Similarity.seedCodebook(c, "vec_id", "embedding", 2)))
    assert(IndexLayout.detect(spark, path2l) == IndexLayout.TwoLevel(2))
    // the detected layout routes the retrain through the hierarchy
    assert(IndexLayout.detect(spark, path2l).name == "two_level")
    val (gen2l, steps2l) = Similarity.retrain(spark, path2l,
      "vec_id", "embedding", maxIters = 1)
    assert(gen2l == 0L && steps2l == 2) // one coarse + one fine step
    val root2l = IndexGen.resolveRoot(spark, path2l)
    assert(root2l.endsWith("gen=0"))
    // the rebuilt generation is a complete two-level artifact with
    // the same persisted knob, and still serves searches
    assert(IndexLayout.detect(spark, root2l) == IndexLayout.TwoLevel(2))
    val q = queriesOf(c)
    val served = Similarity.search(spark, q, "q_id", "q_vec",
      path2l, "vec_id", "embedding", k = 3, nProbe = 4)
      .collect()
    assert(served.nonEmpty)
    // --- composed PQ artifact through the dispatcher (geometry
    // inferred from the persisted sub-codebooks, meta says raw) ---
    val pathPq = tmpDir("gen-dpq")
    Similarity.build(c, "vec_id", "embedding", pathPq,
      IndexLayout.Pq(m = 2, kCents = 4),
      Seq(Similarity.seedCodebook(c, "vec_id", "embedding", 4)))
    assert(IndexLayout.detect(spark, pathPq).name == "pq")
    val (genPq, _) = Similarity.retrain(spark, pathPq,
      "vec_id", "embedding", maxIters = 1)
    assert(genPq == 0L)
    assert(Similarity.search(spark, q, "q_id", "q_vec", pathPq,
      "vec_id", "embedding", k = 3, nProbe = 2, shortlist = Some(6))
      .collect().nonEmpty)
    // --- drift-triggered policy on a flat artifact: no-op below
    // thresholds, retrain above, drift strictly lower after ---
    val pathF = tmpDir("gen-policy")
    flatIndex(c, pathF, nCells = 4, iters = 0) // seed centroids: high drift by design
    assert(IndexLayout.detect(spark, pathF).name == "flat")
    def maxDrift(): Long = Similarity.indexDriftReport(spark, pathF,
      "vec_id", "embedding")
      .agg(max(col("drift_micro"))).head().getLong(0)
    val before = maxDrift()
    val noop = Similarity.maybeRetrain(spark, pathF, "vec_id", "embedding",
      maxDriftMicro = before + 1, maxCellSkew = 1e9)
    assert(!noop.retrained && noop.generation.isEmpty)
    assert(noop.maxDriftMicro == before)
    assert(IndexGen.currentGen(spark, pathF).isEmpty) // truly a no-op
    val hit = Similarity.maybeRetrain(spark, pathF, "vec_id", "embedding",
      maxDriftMicro = before - 1, maxCellSkew = 1e9, maxIters = 3)
    assert(hit.retrained && hit.generation.contains(0L) && hit.steps == 3)
    assert(maxDrift() < before,
      s"retrain must lower the worst per-cell drift: $before -> ${maxDrift()}")
  }

  test("two-level append: fixed-codebook append == rebuild; exactly-once replay; payload rides; mismatch refused") {
    import spark.implicits._
    val dims = 8
    val all = corpus(120, dims).withColumn("label", col("vec_id") % 3)
    val base = all.filter(col("vec_id") < 100)
    val batch = all.filter(col("vec_id") >= 100)
    val fine = Similarity.seedCodebook(base, "vec_id", "embedding", 8)
    val coarse = Similarity.seedCodebook(base, "vec_id", "embedding", 2)
    val appended = tmpDir("gen-2la")
    Similarity.build(base, "vec_id", "embedding", appended,
      IndexLayout.TwoLevel(coarseProbe = 2), Seq(fine, coarse),
      payload = Seq("label"))
    Similarity.append(batch, "vec_id", "embedding", appended,
      batchId = 0L, payload = Seq("label"))
    // the reference: ONE build over the union at the SAME codebooks
    val rebuilt = tmpDir("gen-2lr")
    Similarity.build(all, "vec_id", "embedding", rebuilt,
      IndexLayout.TwoLevel(coarseProbe = 2), Seq(fine, coarse),
      payload = Seq("label"))
    def results(path: String, where: Option[org.apache.spark.sql.Column]) =
      Similarity.search(spark, queriesOf(all), "q_id",
          "q_vec", path, "vec_id", "embedding", k = 3,
          nProbe = 4, where = where)
        .select(col("q_id"), col("vec_id"), col("rank"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSeq.sorted
    assert(results(appended, None) == results(rebuilt, None),
      "append+search must equal rebuild+search at fixed codebooks")
    // payload rode the append: FILTERED search agrees too, and an
    // appended row is reachable through its payload value
    val f = Some(col("label") === 1)
    assert(results(appended, f) == results(rebuilt, f))
    val hit = Similarity.search(spark,
        all.filter(col("vec_id") === 101)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec")),
        "q_id", "q_vec", appended, "vec_id", "embedding", k = 120,
        nProbe = 8)
      .filter(col("vec_id") >= 100).collect()
    assert(hit.nonEmpty, "appended rows must be searchable")
    // exactly-once: marker replay AND crash-before-marker replay
    val before = spark.read.parquet(s"$appended/cells").count()
    Similarity.append(batch, "vec_id", "embedding", appended,
      batchId = 0L, payload = Seq("label"))
    assert(spark.read.parquet(s"$appended/cells").count() == before)
    val fs = new org.apache.hadoop.fs.Path(appended)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(appended,
      f".batch-${0L}%09d.done"), false)
    Similarity.append(batch, "vec_id", "embedding", appended,
      batchId = 0L, payload = Seq("label"))
    assert(spark.read.parquet(s"$appended/cells").count() == before,
      "crash-before-marker replay overwrites, never appends")
    // a payload-built hierarchy refuses a payload-less batch
    intercept[IllegalArgumentException](Similarity.append(
      batch, "vec_id", "embedding", appended, batchId = 1L))
  }

  test("every IndexLayout: fixed-codebook append == rebuild; replayed batchId is a no-op; mismatched payload refused") {
    val all = corpus(120, 8).withColumn("label", col("vec_id") % 3)
    val base = all.filter(col("vec_id") < 100)
    val batch = all.filter(col("vec_id") >= 100)
    val layouts = Seq(IndexLayout.Flat, IndexLayout.Quantized(),
      IndexLayout.Pq(m = 2, kCents = 4),
      IndexLayout.Pq(m = 2, kCents = 4, residual = true),
      IndexLayout.TwoLevel(coarseProbe = 2), IndexLayout.PqCodes(m = 2, kCents = 4))
    for (layout <- layouts) {
      val clue = layout.name + layout.pq.fold("")(_ => s" ${layout}")
      // codes-only stores no payload; every cells layout carries one
      val payload = if (layout.hasCells) Seq("label") else Nil
      val cbs = layout.codebookDirs.map(d => graft.engine.Staging.stage(
        Similarity.seedCodebook(base, "vec_id", "embedding",
          if (d == "codebook_coarse") 2 else 4)))
      val src = (df: DataFrame) =>
        df.select((Seq("vec_id", "embedding") ++ payload).map(col): _*)
      val appended = tmpDir("gen-lay")
      Similarity.build(src(base), "vec_id", "embedding", appended, layout,
        cbs, payload)
      assert(IndexLayout.detect(spark, appended) == layout.withPayload(payload),
        clue)
      Similarity.append(src(batch), "vec_id", "embedding", appended,
        batchId = 0L, payload = payload)
      // the reference: ONE build over the union at the SAME codebooks
      // (PQ layouts pin the appended artifact's trained pq_codebook)
      val rebuilt = tmpDir("gen-lay-r")
      Similarity.build(src(all), "vec_id", "embedding", rebuilt, layout,
        cbs ++ layout.pq.map(_ =>
          spark.read.parquet(s"$appended/pq_codebook")), payload)
      def results(path: String, where: Option[org.apache.spark.sql.Column]) =
        Similarity.search(spark, queriesOf(all), "q_id", "q_vec", path,
            "vec_id", "embedding", k = 3, nProbe = 2, shortlist = Some(12),
            where = where, floats = Some(all))
          .select(col("q_id"), col("vec_id"), col("rank"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          .toSeq.sorted
      val got = results(appended, None)
      assert(got.nonEmpty && got == results(rebuilt, None),
        s"$clue: append+search must equal rebuild+search")
      if (payload.nonEmpty) {
        val f = Some(col("label") === 1)
        assert(results(appended, f) == results(rebuilt, f), clue)
      }
      // a replayed batchId writes nothing
      val data = s"$appended/${if (layout.hasCells) "cells" else "codes"}"
      val before = spark.read.parquet(data).count()
      assert(before == 120L, s"$clue: $before rows")
      Similarity.append(src(batch), "vec_id", "embedding", appended,
        batchId = 0L, payload = payload)
      assert(spark.read.parquet(data).count() == before, clue)
      // a batch whose payload differs from the build's is refused
      val wrong = if (payload.isEmpty) Seq("label") else Nil
      intercept[IllegalArgumentException](Similarity.append(
        batch.select((Seq("vec_id", "embedding") ++ wrong).map(col): _*),
        "vec_id", "embedding", appended, batchId = 1L, payload = wrong))
      assert(spark.read.parquet(data).count() == before, clue)
    }
  }

  test("quantized append: int8 patterns re-derived at fixed codebook; append == rebuild; payload rides; replay no-op") {
    import spark.implicits._
    val all = corpus(120, 8).withColumn("label", col("vec_id") % 3)
    val base = all.filter(col("vec_id") < 100)
    val batch = all.filter(col("vec_id") >= 100)
    val cb = Similarity.seedCodebook(base, "vec_id", "embedding", 4)
    val appended = tmpDir("gen-qa")
    Similarity.build(base, "vec_id", "embedding", appended,
      IndexLayout.Quantized(), Seq(cb), payload = Seq("label"))
    Similarity.append(batch, "vec_id", "embedding",
      appended, batchId = 0L, payload = Seq("label"))
    val rebuilt = tmpDir("gen-qr")
    Similarity.build(all, "vec_id", "embedding", rebuilt,
      IndexLayout.Quantized(), Seq(cb), payload = Seq("label"))
    def results(path: String, where: Option[org.apache.spark.sql.Column]) =
      Similarity.search(spark, queriesOf(all), "q_id",
          "q_vec", path, "vec_id", "embedding", k = 3,
          nProbe = 2, shortlist = Some(12), where = where)
        .select(col("q_id"), col("vec_id"), col("rank"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSeq.sorted
    assert(results(appended, None) == results(rebuilt, None),
      "quantized append+search must equal rebuild+search at a fixed codebook")
    val f = Some(col("label") === 2)
    assert(results(appended, f) == results(rebuilt, f))
    // appended rows carry DERIVED int8 patterns, not nulls
    val streamed = spark.read.parquet(s"$appended/cells")
      .filter(col("vec_id") >= 100)
    assert(streamed.count() == 20 &&
      streamed.filter(col("q_vec").isNull).count() == 0)
    // replay no-op + payload mismatch refused
    val before = spark.read.parquet(s"$appended/cells").count()
    Similarity.append(batch, "vec_id", "embedding",
      appended, batchId = 0L, payload = Seq("label"))
    assert(spark.read.parquet(s"$appended/cells").count() == before)
    intercept[IllegalArgumentException](Similarity.append(
      batch, "vec_id", "embedding", appended, batchId = 1L))
    // (an append always encodes the artifact's DETECTED layout, so
    // every appended row carries q_vec/q_vec_scale — asserted above)
  }

  test("maxsim token-id guard memoizes per committed generation; appends invalidate; violating ids still refused") {
    import spark.implicits._
    val path = tmpDir("gen-footer")
    val dims = 8
    val inst = (0L until 60L).map { i =>
      val doc = i / 10
      (doc * 1000000L + (i % 10) + 1, doc,
        (0 until dims).map(j => (((i * 31 + j * 7) % 2001) - 1000) / 1000.0))
    }.toDF("tok_id", "doc_id", "d_vec")
    IndexGen.commitNewGeneration(spark, path)(dir =>
      Similarity.build(inst, "tok_id", "d_vec", dir, IndexLayout.Flat,
        Seq(Similarity.syntheticCodebook(spark, 4, dims)),
        payload = Seq("doc_id"))): Unit
    val qt = Seq((0L, 0L, "alpha"), (0L, 1L, "beta"))
      .toDF("q_id", "q_pos", "tok")
      .withColumn("q_vec", Similarity.tokenVector(col("tok"), dims))
      .select(col("q_id"), col("q_pos"), col("q_vec"))
    graft.pipeline.GenCache.clear()
    def run() = Similarity.maxSimTopKIndexedSelf(spark, qt, "q_id", "q_pos",
      "q_vec", path, "tok_id", "d_vec", "doc_id",
      k = 3, nProbe = 4, candTok = 100).count()
    val s0 = Similarity.footerSweeps.get()
    assert(run() > 0)
    val s1 = Similarity.footerSweeps.get()
    assert(s1 == s0 + 1, "first search runs exactly one footer sweep")
    run(): Unit
    assert(Similarity.footerSweeps.get() == s1,
      "second search on the same committed generation does NO footer IO")
    // an append can RAISE the bound: the memo key invalidates, the
    // next search re-sweeps, and the guard still fires loudly on
    // violating ids instead of trusting the stale cached bound
    val bad = Seq((2000000000000L, 99L,
        (0 until dims).map(_ => 0.5))).toDF("tok_id", "doc_id", "d_vec")
    Similarity.append(bad, "tok_id", "d_vec", path, batchId = 0L,
      payload = Seq("doc_id"))
    val e = intercept[IllegalArgumentException](run())
    assert(e.getMessage.contains("1e12"))
    assert(Similarity.footerSweeps.get() == s1 + 1,
      "the post-append search re-swept footers (memo invalidated)")
  }

  test("self-contained maxsim file-skips through the stats fold; results equal the explicit-frame form") {
    import spark.implicits._
    val path = tmpDir("gen-msprune")
    val dims = 8
    def instancesFor(docs: Range): DataFrame =
      docs.flatMap { doc =>
        (0 until 20).map { t =>
          (doc * 1000000L + t + 1, doc.toLong,
            (0 until dims).map(j =>
              (((doc * 397 + t * 37 + j * 11) % 2001) - 1000) / 1000.0))
        }
      }.toDF("tok_id", "doc_id", "d_vec")
    val base = instancesFor(0 until 20)
    Similarity.build(base, "tok_id", "d_vec", path, IndexLayout.Flat,
      Seq(Similarity.syntheticCodebook(spark, 4, dims)),
      payload = Seq("doc_id"))
    val extra = instancesFor(20 until 24)
    Similarity.append(extra, "tok_id", "d_vec", path, batchId = 0L,
      payload = Seq("doc_id"))
    Similarity.compactIndexCells(spark, path, "tok_id",
      Similarity.maxsimIndexMaintenanceOptions("tok_id", "doc_id")): Unit
    // the fold recorded skipping metadata: a doc id no part can hold
    // skips EVERY live part of every cell (stats range + bloom)
    val cellDirs = new java.io.File(s"$path/cells").listFiles()
      .filter(_.getName.startsWith("cell_id=")).toSeq
    assert(cellDirs.nonEmpty)
    val ghost = Seq(graft.sources.Compact.PartIn("doc_id", Seq(9999L)))
    assert(cellDirs.forall { d =>
      val (kept, skipped) = graft.sources.Compact.prunedParts(
        spark, d.getAbsolutePath, ghost)
      kept.isEmpty && skipped.nonEmpty
    }, "stats fold must record per-part doc_id skipping metadata")
    // and a REAL doc keeps at least the parts holding it
    val real = Seq(graft.sources.Compact.PartIn("doc_id", Seq(0L)))
    assert(cellDirs.exists { d =>
      graft.sources.Compact.prunedParts(
        spark, d.getAbsolutePath, real)._1.nonEmpty
    })
    // pruned self-contained serving == explicit-frame serving at a
    // RESTRICTIVE operating point (pruning active, candidates partial)
    val all = instancesFor(0 until 24)
    val qt = Seq((0L, 0L, "alpha"), (0L, 1L, "beta"), (1L, 0L, "gamma"))
      .toDF("q_id", "q_pos", "tok")
      .withColumn("q_vec", Similarity.tokenVector(col("tok"), dims))
      .select(col("q_id"), col("q_pos"), col("q_vec"))
    def rows(df: DataFrame) = df
      .select(col("q_id"), col("doc_id"), col("maxsim_micro"), col("rank"))
      .collect().map(_.toString).toSeq.sorted
    val self = rows(Similarity.maxSimTopKIndexedSelf(spark, qt,
      "q_id", "q_pos", "q_vec", path, "tok_id", "d_vec", "doc_id",
      k = 5, nProbe = 2, candTok = 10))
    val explicit = rows(Similarity.maxSimTopKIndexed(spark, qt,
      "q_id", "q_pos", "q_vec", path, "tok_id", "d_vec",
      all, "doc_id", "d_vec", k = 5, nProbe = 2, candTok = 10))
    assert(self.nonEmpty && self == explicit,
      "file-skipped self-contained maxsim must equal the explicit form")

    // The broadcast HINTs rest on measured row evidence (rows · ~128 B
    // framed vs the session broadcast budget). Two expectations:
    def hints(df: DataFrame): Int = df.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }.size
    // (rows, broadcast hints in the plan) of one run under `budget`
    def selfAt(budget: Long): (Seq[String], Int) = {
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", budget.toString)
      try {
        val df = Similarity.maxSimTopKIndexedSelf(spark, qt,
          "q_id", "q_pos", "q_vec", path, "tok_id", "d_vec", "doc_id",
          k = 5, nProbe = 2, candTok = 10)
        (rows(df), hints(df))
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
    // (1) a 1-byte budget trips the measured query-side gate itself
    val e = intercept[IllegalArgumentException](selfAt(1L))
    assert(e.getMessage.contains("broadcast budget"), e.getMessage)
    // (2) the smallest budget that gate admits — the probe-tagged query
    // side, 3 tokens × nProbe 2 rows of (96 + 8·dims) B — is below the
    // ~128 B × rows evidence of every candidate frame (≥ 8 rows here),
    // so each evidence-gated hint is withheld: results are identical,
    // and the plan keeps only the gate's own broadcast hint
    val (unhinted, unhintedHints) = selfAt(3L * 2L * (96L + 8L * dims))
    assert(unhinted == self,
      "hint-withheld self-contained maxsim must equal the hinted form")
    val (_, hintedHints) = selfAt(10L << 20)
    assert(hintedHints - unhintedHints == 2,
      s"both evidence-gated hints must be withheld: $hintedHints vs $unhintedHints")
  }

  test("JSON maxsim route refuses request dims that contradict the artifact") {
    import spark.implicits._
    val path = tmpDir("gen-msdims")
    val dims = 8
    val inst = (0L until 40L).map { i =>
      val doc = i / 10
      (doc * 1000000L + (i % 10) + 1, doc,
        (0 until dims).map(j => (((i * 29 + j * 5) % 2001) - 1000) / 1000.0))
    }.toDF("tok_id", "doc_id", "d_vec")
    Similarity.build(inst, "tok_id", "d_vec", path, IndexLayout.Flat,
      Seq(Similarity.syntheticCodebook(spark, 4, dims)),
      payload = Seq("doc_id"))
    val docs = Seq((0L, "alpha beta"), (1L, "gamma delta"))
      .toDF("doc_id", "text")
    // a request built at a different token-vector width would score
    // TRUNCATED dot products (VectorDotProduct truncates to min
    // length) — silently wrong rankings — so the route throws
    val e = intercept[IllegalArgumentException](
      graft.engine.JsonApi.search(docs,
        s"""{"terms": ["alpha"], "topK": 3,
            "maxsim": {"dims": 16, "nProbe": 2, "candTok": 5},
            "index": "$path"}"""))
    assert(e.getMessage.contains("dims=8") && e.getMessage.contains("16"))
    // the matching width serves
    assert(graft.engine.JsonApi.search(docs,
      s"""{"terms": ["alpha"], "topK": 3,
          "maxsim": {"dims": 8, "nProbe": 2, "candTok": 5},
          "index": "$path"}""").count() >= 0)
  }

  test("PQ appends validate encoding against pq_meta; the atomic path derives it outright") {
    import spark.implicits._
    val c = (0 until 64).map { i =>
      (i.toLong, Array.tabulate(16)(d => math.cos(i * 0.11 + d).toFloat))
    }.toDF("vec_id", "embedding")
    val cb = Similarity.syntheticCodebook(spark, nCells = 8, dims = 16)
    val batch = Seq((200L, Array.tabulate(16)(d =>
      math.cos(2000 * 0.11 + d).toFloat))).toDF("vec_id", "embedding")
    // plain-built index refuses the residual append function...
    val plain = tmpDir("gen-encp")
    Similarity.build(c, "vec_id", "embedding", plain,
      IndexLayout.Pq(m = 4, kCents = 4), Seq(cb))
    assert(IndexLayout.detect(spark, plain) == IndexLayout.Pq(4, 4))
    // ...and a residual-built one records its encoding too
    val res = tmpDir("gen-encr")
    Similarity.build(c, "vec_id", "embedding", res,
      IndexLayout.Pq(m = 4, kCents = 4, residual = true), Seq(cb))
    assert(IndexLayout.detect(spark, res) ==
      IndexLayout.Pq(4, 4, residual = true))
    // the append takes NO encoding flag: a residual artifact gets
    // residual-encoded codes — probing for the appended vector must
    // rank it first (a plain-encoded row would decode as garbage
    // residuals and lose the re-rank)
    Similarity.append(batch, "vec_id", "embedding", res, batchId = 0L)
    // q_id 999 ≠ 200: the tail's query≠candidate self-exclusion must
    // not hide the appended row we probe for
    val probe = batch.select(lit(999L).as("q_id"),
      col("embedding").as("q_vec"))
    val top = Similarity.search(spark, probe, "q_id",
        "q_vec", res, "vec_id", "embedding", k = 1, nProbe = 8,
        shortlist = Some(70)).collect()
    assert(top.head.getAs[Long]("vec_id") == 200L, top.toSeq)
  }

  test("doc-level erasure of a token index: payload-keyed delete hides every instance; purge counts ROWS") {
    import spark.implicits._
    val dims = 8
    // 6 docs × 4 distinct tokens each = 24 instances; doc ids keyed as
    // payload, instance ids composite
    val inst = (0 until 6).flatMap { d =>
      (0 until 4).map(t => (d * 1000000L + t + 1, d.toLong, s"tok${(d + t) % 7}"))
    }.toDF("tok_id", "doc_id", "token")
      .withColumn("d_vec", Similarity.tokenVector(col("token"), dims))
      .select("tok_id", "doc_id", "d_vec")
    val dir = tmpDir("gen-docdel")
    Similarity.build(inst, "tok_id", "d_vec", dir, IndexLayout.Flat,
      Seq(Similarity.syntheticCodebook(spark, nCells = 4, dims = dims)),
      payload = Seq("doc_id"))
    // delete TWO docs by payload key: 8 instance rows behind 2 keys
    Similarity.deleteFromIndex(spark, dir,
      Seq(1L, 4L).toDF("doc_id"), "gdpr-docs")
    val (cells, rows) = Similarity.purgeIndexDeletes(spark, dir, "gdpr-docs")
    assert(rows == 8L,
      s"purge must count matched ROWS (8 instances), not keys (2): got $rows")
    assert(cells >= 1)
    val left = spark.read.parquet(s"$dir/cells")
    assert(left.filter(col("doc_id").isin(1L, 4L)).count() == 0)
    assert(left.count() == 16)
    // the purged docs are invisible to indexed maxsim (probe-all):
    // equal to brute over the surviving instances
    val qt = Seq((0L, 0L, "tok2"), (0L, 1L, "tok5"))
      .toDF("q_id", "q_pos", "token")
      .withColumn("q_vec", Similarity.tokenVector(col("token"), dims))
    val got = Similarity.maxSimTopKIndexed(spark, qt, "q_id", "q_pos",
        "q_vec", dir, "tok_id", "d_vec", inst, "doc_id", "d_vec",
        k = 10, nProbe = 4, candTok = 100)
      .collect().map(_.toString).toSeq.sorted
    val want = Similarity.maxSimTopK(qt,
        inst.filter(!col("doc_id").isin(1L, 4L))
          .select(col("doc_id"), col("d_vec")),
        "q_id", "q_pos", "q_vec", "doc_id", "d_vec", k = 10)
      .collect().map(_.toString).toSeq.sorted
    assert(got == want, "indexed maxsim after doc purge != brute over filtered corpus")
    assert(got.nonEmpty)
  }

  test("maxsim token-id guard reads footer stats: violating INDEX ids fire, compliant pass, bound is exact") {
    import spark.implicits._
    val dims = 8
    def inst(offset: Long) = (0 until 30).map { i =>
      (offset + i, (i % 6).toLong, s"tok$i")
    }.toDF("tok_id", "doc_id", "token")
      .withColumn("d_vec", Similarity.tokenVector(col("token"), dims))
      .select("tok_id", "doc_id", "d_vec")
    val qt = Seq((0L, 0L, "tok3"), (0L, 1L, "tok7"))
      .toDF("q_id", "q_pos", "token")
      .withColumn("q_vec", Similarity.tokenVector(col("token"), dims))
    val cb = Similarity.syntheticCodebook(spark, nCells = 4, dims = dims)
    // compliant index: the footer bound is the exact max id, and the
    // guarded search runs
    val ok = tmpDir("gen-fmax")
    val okInst = inst(5000L)
    Similarity.build(okInst, "tok_id", "d_vec", ok, IndexLayout.Flat,
      Seq(cb), payload = Seq("doc_id"))
    assert(Similarity.footerMaxLong(spark, ok, "tok_id").contains(5029L))
    assert(Similarity.footerMaxLong(spark, ok, "no_such_col").isEmpty)
    assert(Similarity.maxSimTopKIndexed(spark, qt, "q_id", "q_pos", "q_vec",
      ok, "tok_id", "d_vec", okInst, "doc_id", "d_vec",
      k = 3, nProbe = 4, candTok = 40).collect().nonEmpty)
    // violating index (ids >= 1e12 collide with the composite probe-id
    // space): the guard fires FROM THE FOOTERS — the docTokens frame
    // passed alongside is compliant, so only the index bound can trip
    val bad = tmpDir("gen-fbad")
    Similarity.build(inst(1000000000000L), "tok_id", "d_vec", bad,
      IndexLayout.Flat, Seq(cb), payload = Seq("doc_id"))
    val e = intercept[IllegalArgumentException](Similarity.maxSimTopKIndexed(
      spark, qt, "q_id", "q_pos", "q_vec", bad, "tok_id", "d_vec",
      okInst, "doc_id", "d_vec", k = 3, nProbe = 4, candTok = 40))
    assert(e.getMessage.contains("index at"), e.getMessage)
    // the SELF-CONTAINED form (doc tokens read from the artifact
    // itself — no corpus frame) returns exactly the explicit-frame
    // results over the same build
    val explicit = Similarity.maxSimTopKIndexed(spark, qt, "q_id",
        "q_pos", "q_vec", ok, "tok_id", "d_vec", okInst, "doc_id",
        "d_vec", k = 3, nProbe = 4, candTok = 40)
      .collect().map(_.toString).toSeq.sorted
    val self = Similarity.maxSimTopKIndexedSelf(spark, qt, "q_id",
        "q_pos", "q_vec", ok, "tok_id", "d_vec", "doc_id",
        k = 3, nProbe = 4, candTok = 40)
      .collect().map(_.toString).toSeq.sorted
    assert(self == explicit && self.nonEmpty,
      "self-contained indexed maxsim must equal the explicit-frame form")
  }

  test("text index: atomic rebuild + analyzer resolves through the generation") {
    import spark.implicits._
    val docs = Seq(
      (1L, "The Quick Brown Fox"),
      (2L, "the quick brown fox jumps"),
      (3L, "a SLOW red fox")).toDF("doc_id", "text")
    val path = tmpDir("gen-text")
    val an = TextAnalysis.Analyzer(lowercase = true, stopwords = Seq("the", "a"))
    TextAnalysis.buildTextIndex(docs, "doc_id", "text", path, an)
    // mixed-case query matches through the persisted analyzer
    def hits(terms: Seq[String]) =
      TextAnalysis.termLookupAll(spark, path, terms)
        .select(col("doc_id")).as[Long].collect().toSet
    assert(hits(Seq("Quick", "FOX")) == Set(1L, 2L))
    // stopword-only queries fail loudly
    intercept[IllegalArgumentException](hits(Seq("THE")))
    // analyzed dl: "The Quick Brown Fox" → 3 analyzed tokens
    val stats = TextAnalysis.readTextStats(spark, path).head()
    assert(stats.getLong(0) == 3L && stats.getLong(1) == 3 + 4 + 3)
    // atomic rebuild on a GROWN corpus — committed as gen=0
    val docs2 = docs.union(Seq((4L, "ANOTHER quick fox")).toDF("doc_id", "text"))
    val gen = TextAnalysis.rebuildTextIndex(docs2, "doc_id", "text", path, an)
    assert(gen == 0L)
    assert(hits(Seq("quick")) == Set(1L, 2L, 4L))
    // BM25 through the generation (resolved stats + postings + analyzer)
    val bm = TextAnalysis.bm25IndexedTopK(spark, path, Seq("QUICK"), topK = 10)
      .select(col("doc_id")).as[Long].collect().toSet
    assert(bm == Set(1L, 2L, 4L))
    // phrase search over analyzed positions: stopwords removed before
    // positions, so "the quick brown" matches as quick→brown adjacency
    val ph = TextAnalysis.phraseLookup(spark, path,
        Seq("the", "Quick", "Brown"))
      .select(col("doc_id")).as[Long].collect().toSet
    assert(ph == Set(1L, 2L))
  }

  test("analyzer identity: analyzed build == plain build, byte for byte") {
    import spark.implicits._
    val docs = (0 until 40).map(i =>
      (i.toLong, s"alpha beta tok$i gamma")).toDF("doc_id", "text")
    val p1 = tmpDir("gen-an1"); val p2 = tmpDir("gen-an2")
    TextAnalysis.buildTextIndex(docs, "doc_id", "text", p1)
    TextAnalysis.buildTextIndex(docs, "doc_id", "text", p2,
      TextAnalysis.Analyzer.identity)
    val fs = new org.apache.hadoop.fs.Path(p2)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$p2/analyzer")))
    val a = TextAnalysis.bm25IndexedTopK(spark, p1, Seq("alpha", "tok3"), 5)
      .collect().toSeq
    val b = TextAnalysis.bm25IndexedTopK(spark, p2, Seq("alpha", "tok3"), 5)
      .collect().toSeq
    assert(a == b)
  }

  test("generation pinning: a gen=N path serves that generation forever") {
    // time travel / rollback: gen directories are themselves valid
    // artifact roots (no markers inside -> they resolve to
    // themselves), so passing `path/gen=N` to any search pins that
    // committed generation regardless of later retrains
    val path = tmpDir("gen-pin")
    val c = corpus(80, 8)
    flatIndex(c, path, nCells = 4, iters = 0)
    val q = queriesOf(c)
    val (g0, _) = Similarity.retrain(spark, path, "vec_id", "embedding",
      maxIters = 1)
    val atG0 = searchRows(path, q)
    val (g1, _) = Similarity.retrain(spark, path, "vec_id", "embedding",
      maxIters = 1)
    assert(g0 == 0L && g1 == 1L)
    // the live root serves gen=1; the pinned path still serves gen=0
    assert(IndexGen.resolveRoot(spark, path) == s"$path/gen=1")
    assert(searchRows(s"$path/gen=0", q) == atG0)
    assert(searchRows(path, q) == searchRows(s"$path/gen=1", q))
  }
}
