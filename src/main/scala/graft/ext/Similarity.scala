package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.fs.ParquetFooters

/** [extension] Similarity search over embedding columns
  * (SURVEY.md §7.6). Brute-force cosine top-k is the exact baseline;
  * the LSH-bucketed variant is the 100 TB path: random-hyperplane
  * signatures turn the O(n·q) scan into a bucket join, trading recall
  * for a ~bands× fan-out instead of a full cross product.
  *
  * All math runs in double (embeddings are float32 on disk; cast once
  * at load) with sequential left-fold accumulation — deterministic and
  * portable to the DuckDB oracle.
  *
  * The LSH variant is random-hyperplane signing (Charikar, STOC 2002);
  * IVF is the inverted-file coarse quantizer of Jégou/Douze/Schmid,
  * "Product quantization for nearest neighbor search" (TPAMI 2011),
  * minus the PQ residual codes (exact re-rank instead).
  */
object Similarity {

  /** Dot product of two double arrays — custom codegen'd expression
    * (graft.functions.VectorExpressions.DotProduct). The built-in
    * `aggregate(zip_with(...))` formulation computes the same doubles in
    * the same order but interprets a lambda per element — ~100× slower
    * in the pairwise hot loop.
    */
  def dot(a: Column, b: Column): Column = graft.functions.VectorExpressions.dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Cast a float32 embedding column to double once, up front. */
  def asDouble(emb: Column): Column = emb.cast("array<double>")

  /** Exact brute-force top-k neighbors for a set of query vectors:
    * broadcast the (small) query side against the full corpus, score,
    * keep top-k per query with a window. One broadcast join — the
    * corpus is never shuffled.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    // Precompute each side's norm once (O(n·d)) so the pairwise loop is
    // a single dot product (O(pairs·d)), not three. Fan the corpus out
    // first: a single-file parquet corpus otherwise scores on one core.
    // float32-native scoring (see DotProduct): half the broadcast/scan
    // bytes, no Cast allocation, bit-identical cosines (r18)
    val c = Dedup.balanced(corpus)
      .select(col(idCol).as("neighbor_id"), col(embCol).as("c_emb"))
      .withColumn("c_norm", norm(col("c_emb")))
    val q = queries.select(col(idCol).as("query_id"), col(embCol).as("q_emb"))
      .withColumn("q_norm", norm(col("q_emb")))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("q_emb"), col("c_emb")) / (col("q_norm") * col("c_norm"))).as("cosine"))
    topKPerQuery(scored, k)
  }

  /** Random-hyperplane LSH signature: bit i = sign(v · h_i) where h_i
    * is a deterministic pseudo-random hyperplane derived from (i, dim).
    * Vectors with small angle agree on most bits. Computed by a single
    * custom expression — a bits×dim literal expression tree would be
    * ~2000 nodes per row here.
    */
  def hyperplaneSignature(emb: Column, dim: Int, bits: Int): Column =
    graft.functions.VectorExpressions.hyperplaneSig(emb, dim, bits)

  /** Approximate NN: candidates = pairs agreeing on any 8-bit band of a
    * 32-bit hyperplane signature; exact cosine re-ranks candidates.
    * Recall < 1 by construction; the bucket join replaces the cross
    * product, which is the point at scale.
    *
    * Guaranteed-k (`fillStarved`, default on): a query whose bands
    * yield fewer than k candidates — the small-corpus / unlucky-bucket
    * starvation that returned 4-of-5 rows at tiny SFs (r16) — gets a
    * brute-force fill restricted to the STARVED query sliver, so the
    * operator returns min(k, |corpus|−1) neighbors at every corpus
    * size. Cost shape: one aggregate over the narrow candidate pairs
    * plus a corpus scan joined against the broadcast starved set; at
    * scale starvation is empty and AQE's empty-build-side propagation
    * replaces the fill join with an empty relation, skipping that scan
    * entirely. Disable only where <k results are acceptable and the
    * candidate aggregate is measurable.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
      idCol: String = "vec_id", embCol: String = "embedding",
      bits: Int = 32, bands: Int = 4, fillStarved: Boolean = true): DataFrame = {
    val rowsPerBand = bits / bands
    val mask = (1L << rowsPerBand) - 1
    def withSig(df: DataFrame, id: String, emb: String) =
      df.select(col(idCol).as(id), asDouble(col(embCol)).as(emb),
        hyperplaneSignature(asDouble(col(embCol)), dim, bits).as(s"${id}_sig"))
    val c = withSig(corpus, "neighbor_id", "c_emb")
      .select(col("neighbor_id"), col("c_emb"),
        explode(array((0 until bands).map(b => struct(lit(b).as("band"),
          shiftrightunsigned(col("neighbor_id_sig"), b * rowsPerBand).bitwiseAND(lit(mask)).as("key"))): _*)).as("bk"))
    val q = withSig(queries, "query_id", "q_emb")
      .select(col("query_id"), col("q_emb"),
        explode(array((0 until bands).map(b => struct(lit(b).as("band"),
          shiftrightunsigned(col("query_id_sig"), b * rowsPerBand).bitwiseAND(lit(mask)).as("key"))): _*)).as("bk"))
    // candidates as bare id pairs — embeddings re-attached after the
    // distinct so the band-join shuffle moves narrow rows only
    val cands = c.select(col("neighbor_id"), col("bk"))
      .join(q.select(col("query_id"), col("bk")), Seq("bk"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"))
      .distinct()
    val cEmb = corpus.select(col(idCol).as("neighbor_id"), asDouble(col(embCol)).as("c_emb"))
    val qEmb = queries.select(col(idCol).as("query_id"), asDouble(col(embCol)).as("q_emb"))
    val allCands = if (!fillStarved) cands else {
      val candCounts = cands.groupBy(col("query_id"))
        .agg(count(lit(1)).as("_nc"))
      val starved = queries.select(col(idCol).as("query_id"))
        .join(candCounts, Seq("query_id"), "left_outer")
        .filter(coalesce(col("_nc"), lit(0L)) < k)
        .select(col("query_id"))
      val fill = cEmb.select(col("neighbor_id"))
        .join(broadcast(starved), col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"))
      cands.unionByName(fill).distinct()
    }
    val scored = allCands
      .join(broadcast(qEmb), Seq("query_id"))
      .join(cEmb, Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("q_emb"), col("c_emb")).as("cosine"))
    topKPerQuery(scored, k)
  }

  /** IVF (inverted-file) approximate NN — the classic ANN scale path:
    * partition the corpus into `nlist` Voronoi cells (KMeans centroids,
    * fixed seed), then scan only the `nprobe` cells nearest each query.
    * Candidates ≈ corpus × nprobe/nlist instead of the full scan; the
    * cell assignment is one narrow pass, the probe join shuffles on the
    * (small-cardinality) cell id.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      nlist: Int = 16, nprobe: Int = 4,
      idCol: String = "vec_id", embCol: String = "embedding",
      maxFitPoints: Int = 4096): DataFrame = {
    val spark = corpus.sparkSession
    val c = Dedup.balanced(corpus)
      .select(col(idCol).as("neighbor_id"), asDouble(col(embCol)).as("c_emb"))
    val cents = fitCentroids(c, "c_emb", nlist, maxFitPoints)
    val assigned = c.withColumn("cell", cellExpr(col("c_emb"), cents))
    val probes = nearestCells(queries, centroidsDf(spark, cents), nprobe,
      idCol, embCol)
    val scored = probes.join(assigned, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("q_emb"), col("c_emb")).as("cosine"))
    topKPerQuery(scored, k)
  }

  /** Coarse-quantizer centroids fit on a BOUNDED hash-ordered sample
    * collected to the driver, exactly like [[Pq.train]] (the faiss
    * pattern): the quantizer needs O(nlist·10³) training points at ANY
    * corpus size, so the driver holds ≤ maxFitPoints·dim doubles and
    * one local Lloyd's loop replaces a distributed KMeans whose
    * fixed per-job scheduling overhead dwarfs the arithmetic
    * (measured: ~20 s of spark.ml jobs vs milliseconds local for the
    * same 2.5k-point fit). Deterministic: hash-ordered pick, evenly
    * spaced init, fixed iterations.
    */
  private[ext] def fitCentroids(vectors: DataFrame, embColDouble: String,
      nlist: Int, maxFitPoints: Int = 4096,
      iters: Int = 8): Array[Array[Double]] = {
    require(nlist >= 1, s"fitCentroids: nlist must be >= 1, got $nlist")
    require(maxFitPoints >= nlist,
      s"fitCentroids: need at least nlist=$nlist fit points")
    val sample = vectors.select(col(embColDouble).as("emb"))
      .orderBy(xxhash64(col("emb")))
      .limit(maxFitPoints)
      .collect().map(_.getSeq[Double](0).toArray)
    require(sample.nonEmpty, "fitCentroids: empty corpus")
    Pq.lloyd(sample, nlist, iters)
  }

  /** Nearest-centroid cell id as a pure codegen'd expression: one
    * graft_dot against each LITERAL centroid (||c||² folded to a
    * constant), argmin via least + first-match coalesce — ties break
    * to the lowest cell id, mirroring [[nearestCells]]'s (dist, cell)
    * ordering. nlist dot products per row, no ML UDF, no vector
    * conversion, stays inside whole-stage codegen.
    */
  private[ext] def cellExpr(emb: Column,
      centroids: Array[Array[Double]]): Column = {
    val dists = centroids.map { cArr =>
      lit(cArr.map(x => x * x).sum) -
        lit(2.0) * dot(emb, typedLit(cArr.toSeq))
    }
    if (dists.length == 1) lit(0)
    else {
      val minD = least(dists: _*)
      coalesce(dists.zipWithIndex.map { case (dc, i) =>
        when(dc === minD, lit(i))
      }: _*)
    }
  }

  private def centroidsDf(spark: SparkSession,
      centroids: Array[Array[Double]]): DataFrame = {
    val rows = centroids.zipWithIndex.map { case (v, i) => (i, v.toSeq) }.toSeq
    spark.createDataFrame(rows).toDF("cell", "centroid")
  }

  /** nprobe nearest cells per query: centroids are tiny (nlist rows) —
    * cross with the query side, rank in-plan. Squared-Euclidean rank:
    * ||q−c||² = ||q||² − 2q·c + ||c||²; the ||q||² term is constant
    * per query, so rank by ||c||² − 2q·c.
    */
  private[ext] def nearestCells(queries: DataFrame, centDf: DataFrame,
      nprobe: Int, idCol: String, embCol: String): DataFrame =
    queries.select(col(idCol).as("query_id"), asDouble(col(embCol)).as("q_emb"))
      .crossJoin(broadcast(centDf))
      .withColumn("_c", col("centroid").cast("array<double>"))
      .withColumn("dist", dot(col("_c"), col("_c")) - lit(2.0) * dot(col("q_emb"), col("_c")))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("dist"), col("cell"))))
      .filter(col("rk") <= nprobe)
      .select(col("query_id"), col("q_emb"), col("cell"))

  private def topKPerQuery(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
  }

  /** Materialize an IVF index: the corpus rewritten as a parquet table
    * PARTITIONED BY its Voronoi cell (plus a tiny `centroids` sidecar
    * table). This is the 100 TB serving shape the in-session
    * [[ivfTopK]] can't give you: a probe against the written index
    * becomes a statically partition-PRUNED scan — only the nprobe
    * cells' directories are listed and read, the other
    * (nlist − nprobe)/nlist of the corpus is never touched.
    */
  def ivfIndexWrite(corpus: DataFrame, dir: String, nlist: Int = 16,
      idCol: String = "vec_id", embCol: String = "embedding",
      maxFitPoints: Int = 4096): Unit = {
    val c = Dedup.balanced(corpus)
      .select(col(idCol).as("neighbor_id"), asDouble(col(embCol)).as("c_emb"))
    val cents = fitCentroids(c, "c_emb", nlist, maxFitPoints)
    ivfIndexWriteWithCentroids(corpus, dir, cents, idCol, embCol)
  }

  /** [[ivfIndexWrite]] under CALLER-SUPPLIED (frozen) centroids — the
    * q115 frozen-grid discipline for the index layout itself: rebuilds
    * and appends that must keep cell geometry stable (so append+probe ≡
    * rewrite+probe is testable exactly) route through here. Also writes
    * the `stats` sidecar: per-cell fit-time assignment quality, the
    * baseline [[ivfIndexStaleness]] measures drift against.
    */
  def ivfIndexWriteWithCentroids(corpus: DataFrame, dir: String,
      cents: Array[Array[Double]],
      idCol: String = "vec_id", embCol: String = "embedding"): Unit = {
    val spark = corpus.sparkSession
    val c = Dedup.balanced(corpus)
      .select(col(idCol).as("neighbor_id"), asDouble(col(embCol)).as("c_emb"))
    // cluster the file layout on the cell id before partitionBy:
    // without it every task writes a sliver into every cell dir
    // (tasks x nlist tiny files); with it a cell's rows land together.
    // At larger scale pass a numPartitions > nlist to repartition for
    // multiple right-sized files per cell — the pruning only needs the
    // directory boundary.
    c.withColumn("cell", cellExpr(col("c_emb"), cents))
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$dir/data")
    centroidsDf(spark, cents).write.mode("overwrite").parquet(s"$dir/centroids")
    cellAssignmentStats(spark, dir)
      .write.mode("overwrite").parquet(s"$dir/stats")
  }

  /** Append new vectors into an existing [[ivfIndexWrite]] index:
    * assign against the FROZEN centroid sidecar (never refit — a refit
    * would silently move cell boundaries under the already-written
    * data, the frozen-grid trap) and append parquet files into the
    * matching cell directories. Serving keeps its static pruning: a
    * probe lists only the probed cells' directories, old and appended
    * files alike. The write shuffles ONLY the new vectors (one
    * repartition on cell) — the existing index is never read or
    * rewritten, so appending a day's delta to a 100 TB index costs
    * O(delta). The fit-time `stats` baseline stays frozen; run
    * [[ivfIndexStaleness]] after appends and re-fit (full
    * [[ivfIndexWrite]]) when drift crosses the deployment's threshold.
    */
  def ivfIndexAppend(newVectors: DataFrame, rawDir: String,
      idCol: String = "vec_id", embCol: String = "embedding"): Unit = {
    val spark = newVectors.sparkSession
    // versioned roots (IvfIndex.create/rebuild) resolve to the live
    // snapshot; flat ivfIndexWrite dirs resolve to themselves
    val dir = IvfIndex.resolveDir(spark, rawDir)
    val cents = readCentroids(spark, dir)
    Dedup.balanced(newVectors)
      .select(col(idCol).as("neighbor_id"), asDouble(col(embCol)).as("c_emb"))
      .withColumn("cell", cellExpr(col("c_emb"), cents))
      .repartition(col("cell"))
      .write.mode("append").partitionBy("cell").parquet(s"$dir/data")
  }

  /** Index-staleness report — the re-fit trigger for an appended index:
    * per cell, the CURRENT mean squared distance of assigned vectors to
    * their centroid vs the fit-time baseline recorded in the `stats`
    * sidecar. Appends drawn from the fit distribution keep
    * `drift` ≈ 0; a shifted corpus inflates current mean distance and
    * the drift ratio tells the operator how badly the frozen Voronoi
    * geometry fits the data now. One partition-parallel scan of the
    * index plus a broadcast of the (nlist-row) sidecars — no shuffle
    * beyond the nlist-cardinality aggregate.
    *
    * Output: (cell, n_vectors, mean_d2, fit_n_vectors, fit_mean_d2,
    * drift) with drift = mean_d2/fit_mean_d2 − 1 (NULL for a
    * degenerate zero-distance fit cell).
    */
  def ivfIndexStaleness(spark: SparkSession, rawDir: String): DataFrame = {
    val dir = IvfIndex.resolveDir(spark, rawDir)
    val fit = ParquetFooters.read(spark, s"$dir/stats")
      .select(col("cell"), col("n_vectors").as("fit_n_vectors"),
        col("mean_d2").as("fit_mean_d2"))
    cellAssignmentStats(spark, dir)
      .join(broadcast(fit), Seq("cell"), "left_outer")
      .withColumn("drift",
        when(col("fit_mean_d2") > 0, col("mean_d2") / col("fit_mean_d2") - 1.0))
      .orderBy("cell")
  }

  /** Per-cell assignment quality of the index AS WRITTEN: count and
    * mean squared centroid distance, computed by scanning the data
    * partitions against the broadcast centroid sidecar.
    */
  private def cellAssignmentStats(spark: SparkSession, dir: String): DataFrame = {
    val centDf = ParquetFooters.read(spark, s"$dir/centroids")
    ParquetFooters.read(spark, s"$dir/data")
      .join(broadcast(centDf), Seq("cell"))
      .withColumn("_c", col("centroid").cast("array<double>"))
      .withColumn("_d2",
        dot(col("c_emb"), col("c_emb"))
          - lit(2.0) * dot(col("c_emb"), col("_c"))
          + dot(col("_c"), col("_c")))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vectors"), avg(col("_d2")).as("mean_d2"))
  }

  /** The frozen centroid set of a written index, cell-ordered — the
    * bounded (nlist-row) sidecar read that [[ivfIndexAppend]] assigns
    * against.
    */
  private def readCentroids(spark: SparkSession,
      dir: String): Array[Array[Double]] = {
    val rows = ParquetFooters.read(spark, s"$dir/centroids")
      .orderBy("cell")
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
    require(rows.nonEmpty, s"ivfIndexAppend: no centroids sidecar under $dir")
    require(rows.map(_._1).toSeq == rows.indices.toSeq,
      s"ivfIndexAppend: centroid sidecar cells are not dense 0..${rows.length - 1}")
    rows.map(_._2)
  }

  /** ANN against a materialized [[ivfIndexWrite]] index. The query
    * batch is small by contract (same as [[bruteForceTopK]]), so the
    * batch's probe-cell ids — at most min(nlist, nprobe·|queries|)
    * ints — are collected and spliced into the scan filter as
    * LITERALS: that is what makes the pruning static (a join-derived
    * filter would read every partition and prune at runtime at best).
    *
    * The contract is ENFORCED, not advisory: a batch above `maxBatch`
    * fails fast with a named error before any probe job runs. The
    * check is a `limit(maxBatch+1).count()` — it short-circuits after
    * maxBatch+1 rows, so the guard costs one bounded scan, never a
    * full count of a corpus-sized frame. Oversized batches belong on
    * [[ivfTopK]], whose candidate join shuffles on the cell id and
    * needs no driver-side cell list (static pruning would be
    * worthless anyway: a corpus-sized batch probes every cell).
    */
  def ivfIndexedTopK(spark: SparkSession, rawDir: String, queries: DataFrame,
      k: Int, nprobe: Int = 4,
      idCol: String = "vec_id", embCol: String = "embedding",
      maxBatch: Int = 4096): DataFrame = {
    require(maxBatch > 0, s"ivfIndexedTopK: maxBatch must be > 0, got $maxBatch")
    // resolve a versioned root ONCE, up front: the whole probe (cell
    // collect + pruned scan) then reads one immutable snapshot —
    // old-or-new across a concurrent IvfIndex.rebuild swap, never mixed
    val dir = IvfIndex.resolveDir(spark, rawDir)
    val batchProbe = queries.select(col(idCol)).limit(maxBatch + 1).count()
    require(batchProbe <= maxBatch,
      s"ivfIndexedTopK: query batch exceeds maxBatch=$maxBatch — the " +
        "indexed path collects probe-cell ids for static pruning and is " +
        "for serving-sized batches; use ivfTopK for corpus-scale query sets")
    val centDf = ParquetFooters.read(spark, s"$dir/centroids")
    // no cache: the probe frame is a tiny batch x nlist cross — cheaper
    // to recompute for the final plan than to pin storage memory forever
    val probes = nearestCells(queries, centDf, nprobe, idCol, embCol)
    val cells = probes.select("cell").distinct().collect().map(_.getInt(0))
    val data = ParquetFooters.read(spark, s"$dir/data")
      .filter(col("cell").isin(cells.map(Integer.valueOf): _*))
    val scored = probes.join(data, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("q_emb"), col("c_emb")).as("cosine"))
    topKPerQuery(scored, k)
  }

  /** Exact all-pairs embedding-cosine near-duplicate pairs (id_a <
    * id_b, cosine ≥ threshold) — the SPEC ORACLE for the banded
    * variant below. The theta join is a BroadcastNestedLoopJoin:
    * exhaustive, O(n²), test-scale only. Production entry point is
    * [[cosineNearDupPairsLsh]].
    */
  def cosineNearDupPairs(vectors: DataFrame, threshold: Double,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val v = Dedup.balanced(vectors)
      .select(col(idCol), asDouble(col(embCol)).as("emb"))
      .withColumn("nrm", norm(col("emb")))
    val a = v.select(col(idCol).as("id_a"), col("emb").as("emb_a"), col("nrm").as("nrm_a"))
    val b = v.select(col(idCol).as("id_b"), col("emb").as("emb_b"), col("nrm").as("nrm_b"))
    a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (dot(col("emb_a"), col("emb_b")) / (col("nrm_a") * col("nrm_b"))).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Exhaustive cosine pairs with a DISTRIBUTED execution shape: the
    * production form of [[cosineNearDupPairs]] for thresholds too low
    * for LSH to prune (see the ρ note on [[lshBandParams]]). Θ(n²)
    * compute is inherent to an exact low-threshold join; what tiling
    * fixes is the shape: each vector hashes to one of `tiles` blocks,
    * the tiny unordered block-pair list (t_a ≤ t_b) is broadcast, and
    * each of the tiles·(tiles+1)/2 cells produces its pairs through
    * plain equi-joins — ~(tiles+1)/2× row replication through the
    * shuffle, bounded per-task memory, no corpus broadcast, no
    * BroadcastNestedLoopJoin, no driver involvement. Size `tiles` ≈
    * √(2·cluster cores) so every core gets a cell.
    */
  def cosineAllPairsTiled(vectors: DataFrame, threshold: Double,
      idCol: String = "vec_id", embCol: String = "embedding",
      tiles: Int = 16): DataFrame = {
    require(tiles > 0, s"cosineAllPairsTiled: tiles must be > 0, got $tiles")
    val spark = vectors.sparkSession
    import spark.implicits._
    // no asDouble: graft_dot reads float32 arrays natively (exact
    // widening — see DotProduct), so the pair join moves half the
    // embedding bytes and skips a Cast allocation per row (r18)
    val v = Dedup.balanced(vectors)
      .select(col(idCol).as("id"), col(embCol).as("emb"))
      .withColumn("nrm", norm(col("emb")))
      .withColumn("tile", pmod(xxhash64(col("id")), lit(tiles)).cast("int"))
    val tilePairs = (for { a <- 0 until tiles; b <- a until tiles } yield (a, b))
      .toDF("t_a", "t_b")
    val left = v.select(col("id").as("id_l"), col("emb").as("emb_l"),
      col("nrm").as("nrm_l"), col("tile").as("t_a"))
    val right = v.select(col("id").as("id_r"), col("emb").as("emb_r"),
      col("nrm").as("nrm_r"), col("tile").as("t_b"))
    left.join(broadcast(tilePairs), Seq("t_a"))
      .join(right, Seq("t_b"))
      // same-tile cells order within the cell; cross-tile cells carry
      // each unordered pair exactly once and normalize ids below
      .filter(col("t_a") =!= col("t_b") || col("id_l") < col("id_r"))
      .select(
        least(col("id_l"), col("id_r")).as("id_a"),
        greatest(col("id_l"), col("id_r")).as("id_b"),
        (dot(col("emb_l"), col("emb_r")) / (col("nrm_l") * col("nrm_r"))).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** LSH banding parameters (rowsPerBand, bands) for a cosine
    * threshold. A pair AT the threshold agrees on each hyperplane bit
    * with probability p₁ = 1 − acos(t)/π (Charikar 2002); it becomes a
    * candidate if it matches all `rowsPerBand` bits of ANY band, so its
    * miss probability is (1 − p₁^r)^b — driven below `missProb` by
    * choosing b. Larger r is more selective against dissimilar pairs
    * (collision prob p^r) but needs more bands for the same recall;
    * this picks the largest r whose total bit budget r·b fits
    * `maxBits`.
    *
    * Honesty note on selectivity: the r/b trade is governed by
    * ρ = ln p₁ / ln p₂. At true near-dup thresholds (t ≥ 0.9,
    * p₁ ≈ 0.86 vs p₂ ≈ 0.5 for isotropic pairs) banding prunes ~10³×.
    * At low thresholds (t = 0.4 ⇒ p₁ ≈ 0.63) the families are barely
    * separable and a recall-guaranteeing configuration admits most
    * pairs as candidates — the join is still a distributed hash join
    * on narrow rows (no nested-loop broadcast, no driver collect), but
    * the exact re-rank work approaches all-pairs; an exhaustive
    * low-threshold join is inherently Θ(n²) compute.
    */
  def lshBandParams(threshold: Double, maxBits: Int = 512,
      missProb: Double = 1e-5): (Int, Int) = {
    require(threshold > 0.0 && threshold < 1.0,
      s"lshBandParams: threshold must be in (0,1), got $threshold")
    require(maxBits >= 1 && missProb > 0.0 && missProb < 1.0)
    val p1 = 1.0 - math.acos(threshold) / math.Pi
    val lnMiss = math.log(missProb)
    var best = (0, 0)
    var r = 1
    while (r <= 64) {
      val pr = math.pow(p1, r)
      // bands needed so (1-p^r)^b <= missProb; compare in Double BEFORE
      // any narrowing — for low thresholds b explodes past Long range
      // and a saturated-cast product would wrap negative and "fit"
      val b = math.max(1.0, math.ceil(lnMiss / math.log1p(-pr)))
      if (b <= maxBits.toDouble / r) best = (r, b.toInt)
      r += 1
    }
    require(best._1 > 0,
      s"lshBandParams: no (rows,bands) with r*b <= $maxBits reaches miss <= $missProb for t=$threshold")
    best
  }

  /** Banded-LSH candidate pairs: each vector gets `bands` independent
    * `rowsPerBand`-bit hyperplane signatures (band b uses the plane
    * family [b·r, (b+1)·r), so no plane is reused across bands);
    * vectors sharing any (band, key) bucket are candidates. All band
    * keys come from ONE fused expression (`HyperplaneBandKeys`) —
    * one signature pass per row, not one interpreted expression per
    * band. The self-join carries bare ids only — embeddings never ride
    * the band shuffle — and the distinct() collapses multi-band hits
    * before the (expensive) exact re-rank.
    */
  private[ext] def lshCandidatePairs(vectors: DataFrame, dim: Int,
      rowsPerBand: Int, bands: Int,
      idCol: String, embCol: String): DataFrame = {
    val exploded = Dedup.balanced(vectors)
      .select(col(idCol).as("id"), asDouble(col(embCol)).as("emb"))
      .select(col("id"),
        posexplode(graft.functions.VectorExpressions.hyperplaneBandKeys(
          col("emb"), dim, rowsPerBand, bands)).as(Seq("band", "key")))
    // self-join via aliases, renaming only ABOVE the join: both sides
    // are canonically identical up to the bucket-key shuffle, so the
    // signature pipeline is shareable (ReuseExchange) when both sides
    // shuffle at scale
    exploded.alias("a")
      .join(exploded.alias("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** Embedding-cosine near-duplicate pairs via banded hyperplane LSH +
    * exact re-rank — the scale path for [[cosineNearDupPairs]]: the
    * all-pairs theta join (BroadcastNestedLoopJoin, Θ(n²) through one
    * broadcast) is replaced by (1) banded signature buckets sized by
    * [[lshBandParams]] for per-pair miss probability ≤ `missProb` at
    * the threshold, (2) a distributed hash self-join on narrow
    * (band, key, id) rows, (3) exact cosine on the surviving candidates
    * only. Same output contract as the exact variant; equality on the
    * gate data is asserted by SimilaritySpec against the all-pairs
    * oracle.
    */
  def cosineNearDupPairsLsh(vectors: DataFrame, threshold: Double, dim: Int,
      idCol: String = "vec_id", embCol: String = "embedding",
      maxSignatureBits: Int = 512, missProb: Double = 1e-5): DataFrame = {
    val (rowsPerBand, bands) = lshBandParams(threshold, maxSignatureBits, missProb)
    val cands = lshCandidatePairs(vectors, dim, rowsPerBand, bands, idCol, embCol)
    // no asDouble: graft_dot reads float32 arrays natively (exact
    // widening — see DotProduct), so the pair join moves half the
    // embedding bytes and skips a Cast allocation per row (r18)
    val v = Dedup.balanced(vectors)
      .select(col(idCol).as("id"), col(embCol).as("emb"))
      .withColumn("nrm", norm(col("emb")))
    // re-attach embeddings by id: no broadcast hint — the vector table
    // scales with the corpus; AQE broadcasts while it fits
    cands
      .join(v.select(col("id").as("id_a"), col("emb").as("emb_a"), col("nrm").as("nrm_a")), Seq("id_a"))
      .join(v.select(col("id").as("id_b"), col("emb").as("emb_b"), col("nrm").as("nrm_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (dot(col("emb_a"), col("emb_b")) / (col("nrm_a") * col("nrm_b"))).as("cosine"))
      .filter(col("cosine") >= threshold)
  }
}
