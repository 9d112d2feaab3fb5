package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scale-out building blocks that don't change query semantics, only
  * physical shape — the techniques a 100 TB deployment leans on:
  *
  *  - **Bucketed tables**: persist a relation bucketed (and sorted) on
  *    its join key; a later sort-merge join on that key reads matching
  *    buckets directly with NO shuffle exchange on the bucketed side.
  *  - **Bloom-pruned joins**: prune the big side of a selective
  *    equi-join before its shuffle, with a deterministic md5 bitset or
  *    Spark's own bloom aggregate.
  *  - **Z-order keys**: a Morton key whose sort order keeps file
  *    min/max statistics tight in every interleaved dimension.
  *  - **Incremental maintenance**: snapshot diffs, compaction plans
  *    and mergeable partial aggregate states.
  *
  * AQE (`spark.sql.adaptive.enabled`, on in this engine's sessions)
  * handles moderate skew automatically via skew-join splitting.
  */
object ScaleOps {

  /** Persist `df` as a bucketed+sorted managed table on `key` so joins
    * on that key become shuffle-free. */
  def writeBucketed(df: DataFrame, table: String, key: String,
                    buckets: Int = 8): Unit = {
    val spark = df.sparkSession
    // mode("overwrite") only replaces tables REGISTERED in this
    // session's catalog; an orphaned managed-table directory from a
    // previous JVM (fresh derby metastore, surviving warehouse dir)
    // fails saveAsTable with LOCATION_ALREADY_EXISTS — drop both the
    // entry and any leftover location first.
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val loc = new org.apache.hadoop.fs.Path(
      spark.sessionState.conf.warehousePath, table.toLowerCase)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    df.write.mode("overwrite")
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(table)
  }

  /** Deterministic bloom-filter bitset over the DISTINCT values of
    * `key`: `nHashes` md5-derived bit positions per key, packed into
    * `nBits / 64` longs. Built relationally — keys explode to
    * (word, mask) pairs and a partial-aggregated `bit_or` groupBy
    * produces at most nBits/64 rows — then collected (a 2^17-bit
    * filter is 16 KiB). False negatives are impossible by
    * construction; the false-positive rate is the standard
    * (1 - e^(-kn/m))^k, so size nBits at ~10-16 bits per expected
    * distinct key. md5-derived positions make the filter identical in
    * any engine — which is what lets a bloom-pruned join keep an
    * exact SQL oracle. */
  def bloomBits(keys: DataFrame, key: String, nBits: Int,
                nHashes: Int): Array[Long] = {
    require(nBits >= 64 && (nBits & (nBits - 1)) == 0,
      s"nBits must be a power of two >= 64, got $nBits")
    val nWords = nBits / 64
    val pos = (0 until nHashes).map { j =>
      pmod(CurationOps.md5Hash32(
        concat(lit(s"bf$j:"), col(key).cast("string"))), lit(nBits.toLong))
    }
    val words = new Array[Long](nWords)
    keys.select(col(key)).na.drop().distinct()
      .select(explode(array(pos: _*)).as("p"))
      .select((col("p") / 64).cast("int").as("w"),
        call_function("shiftleft", lit(1L),
          pmod(col("p"), lit(64L)).cast("int")).as("m"))
      .groupBy(col("w")).agg(expr("bit_or(m)").as("bits"))
      .collect()
      .foreach(r => words(r.getInt(0)) = r.getLong(1))
    words
  }

  /** Scan-speed membership probe against a collected bloom bitset
    * (inlined as a literal array — no join, no shuffle): true iff
    * every one of the key's `nHashes` bits is set. May be true for a
    * key that was never inserted (false positive), never false for
    * one that was. */
  def bloomProbe(words: Array[Long], key: Column, nBits: Int,
                 nHashes: Int): Column =
    (0 until nHashes).map { j =>
      val p = pmod(CurationOps.md5Hash32(
        concat(lit(s"bf$j:"), key.cast("string"))), lit(nBits.toLong))
      element_at(typedlit(words.toSeq), (p / 64).cast("int") + 1)
        .bitwiseAND(call_function("shiftleft", lit(1L),
          pmod(p, lit(64L)).cast("int"))) =!= 0
    }.reduce(_ && _)

  /** Bloom-pruned equi-join: build a bloom filter from the (already
    * filtered) small side's keys, prune the big side BEFORE its
    * shuffle, then run the exact join on the survivors. Result is
    * IDENTICAL to `big.join(small, bigKey === smallKey)` — bloom
    * false positives are eliminated by the real join; false negatives
    * cannot occur — but at 100 TB the big side's shuffle writes only
    * the ~matching fraction of rows instead of the full table, which
    * is the dominant cost of a selective fact-dim join. (Spark's AQE
    * has a runtime bloom under `spark.sql.optimizer.runtime.
    * bloomFilter.*`; this is the explicit, engine-deterministic form
    * — the filter contents are reproducible md5 bits, so the whole
    * plan stays oracle-checkable.) The probe is a literal-array pure
    * projection; a filter much beyond ~2^22 bits (512 KiB literal)
    * should swap the inlined array for a broadcast-joined word table
    * instead. */
  def bloomPrunedJoin(big: DataFrame, small: DataFrame,
                      bigKey: String, smallKey: String,
                      nBits: Int = 1 << 17, nHashes: Int = 5): DataFrame = {
    val words = bloomBits(small, smallKey, nBits, nHashes)
    big.filter(bloomProbe(words, col(bigKey), nBits, nHashes))
      .join(small, col(bigKey) === col(smallKey))
  }

  /** Bloom-pruned equi-join past the driver-literal ceiling: same
    * contract as [[bloomPrunedJoin]] (result IDENTICAL to the plain
    * inner join — false positives erased by the real join, false
    * negatives impossible) but the filter is built with Spark's
    * native `BloomFilterAggregate` inside a SCALAR SUBQUERY, so the
    * bitset never becomes a driver-collected literal array in the
    * builder: the sketch is aggregated distributively (partial
    * filters OR-merged executor-side), flows to the probe as the
    * subquery's one binary value, and `might_contain` probes it at
    * scan speed before the big side's shuffle. This is exactly the
    * plan shape Spark's own runtime row-level filtering
    * (`InjectRuntimeFilter`) emits — made explicit so it fires
    * regardless of the optimizer's selectivity heuristics. The
    * md5-literal path ([[bloomPrunedJoin]]) stays preferable for tiny
    * filters (<= ~2^17 bits): a literal probe is pure projection with
    * no subquery stage. Here the sketch size is bounded by `numBits`
    * (a 2^26-bit filter is 8 MiB — one driver object independent of
    * key cardinality, vs the literal path's plan-embedded array), so
    * billions of keys need only `expectedKeys`/`numBits` sized to the
    * standard 10-16 bits/key; at cluster scale raise
    * `spark.sql.optimizer.runtime.bloomFilter.maxNumItems/maxNumBits`
    * alongside. Keys hash through `xxhash64` on BOTH sides — the same
    * hash family Spark's runtime filter uses. */
  def bloomPrunedJoinAgg(big: DataFrame, small: DataFrame,
                         bigKey: String, smallKey: String,
                         expectedKeys: Long = 1000000L,
                         numBits: Long = 1L << 23): DataFrame = {
    import org.apache.spark.sql.GraftExprBridge.{column => toCol, expression => toExpr}
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, ScalarSubquery}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    require(expectedKeys > 0 && numBits >= 64,
      s"bad bloom sizing: expectedKeys=$expectedKeys numBits=$numBits")
    val agg = new BloomFilterAggregate(
      toExpr(xxhash64(col(smallKey))),
      Literal(expectedKeys), Literal(numBits)).toAggregateExpression()
    val bloomDf = small.na.drop(Seq(smallKey))
      .agg(toCol(agg).as("bf"))
    val sketch = ScalarSubquery(
      bloomDf.queryExecution.analyzed)
    val probe = toCol(BloomFilterMightContain(
      sketch, toExpr(xxhash64(col(bigKey)))))
    big.filter(probe).join(small, col(bigKey) === col(smallKey))
  }

  /** Z-order (Morton) clustering key: quantize each column to `bits`
    * bits by scaling its [min, max] range onto [0, 2^bits), then
    * bit-interleave the cells (dim 0 owns bit positions 0, D, 2D, …).
    * Writing a table `repartitionByRange`-d and sorted by this key
    * gives files whose min/max ranges are tight in EVERY interleaved
    * dimension — so a predicate on ANY one of them prunes files via
    * column statistics, where a single-column sort only skips on that
    * one column. This is the standard multi-dimensional data-skipping
    * layout for 100 TB lakehouse tables (Delta/Iceberg `OPTIMIZE
    * ZORDER BY`). All arithmetic is exact-integer (scaling uses
    * integer multiply + floor-div, interleave is shifts and masks), so
    * the key is codegen'd, zero-shuffle, and engine-reproducible.
    * `ranges` pins (min, max) per column — pass precomputed table
    * stats (one scalar agg) so the key is a pure projection. */
  def zorderKey(cols: Seq[Column], ranges: Seq[(Long, Long)], bits: Int)
      : Column = {
    require(cols.nonEmpty && cols.size == ranges.size,
      s"cols/ranges mismatch: ${cols.size} vs ${ranges.size}")
    val d = cols.size
    require(bits > 0 && bits * d <= 62, s"bits*dims must fit a long")
    ranges.foreach { case (mn, mx) =>
      require(mx >= mn, s"empty range ($mn, $mx)") }
    val cells = cols.zip(ranges).map { case (c, (mn, mx)) =>
      val den = mx - mn + 1L
      require(den <= (Long.MaxValue >> bits), s"range too wide for $bits bits")
      // ((v - mn) << bits) div den: exact integer scaling onto
      // [0, 2^bits). Floor-div via subtract-remainder — (a - a%b)/b is
      // exact (numerator divisible, quotient < 2^bits), where
      // floor(double-div) can round up across an integer at 2^53+
      // magnitudes. Clamp first so out-of-range values (stale stats)
      // stay in the cube.
      val clamped = least(greatest(c.cast("long"), lit(mn)), lit(mx))
      val a = shiftleft(clamped - lit(mn), bits)
      ((a - pmod(a, lit(den))) / lit(den.toDouble)).cast("long")
    }
    (0 until bits).flatMap { i =>
      cells.zipWithIndex.map { case (cell, dim) =>
        shiftleft(shiftright(cell, i).bitwiseAND(lit(1L)), i * d + dim)
      }
    }.reduce(_ bitwiseOR _)
  }

  /** CDC-style snapshot diff: classify every key across two corpus
    * snapshots as added / removed / changed / unchanged. The payloads
    * are reduced to md5 fingerprints BEFORE the join, so at 100 TB the
    * full-outer hash join moves (key, 32-byte hash) rows — never
    * document bodies — and the join key partitions both sides the same
    * way (one shuffle each, no broadcast needed on same-scale
    * snapshots). This is the daily-incremental-pipeline primitive:
    * `added ∪ changed` is the reprocessing frontier, `removed` the
    * retraction feed.
    *
    * Output: keyCol, status ('added'|'removed'|'changed'|'unchanged'). */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, keyCol: String,
                   payloadCol: String): DataFrame = {
    val o = oldDf.select(col(keyCol).as("__k"),
      md5(col(payloadCol)).as("__old_fp"))
    val n = newDf.select(col(keyCol).as("__k"),
      md5(col(payloadCol)).as("__new_fp"))
    o.join(n, Seq("__k"), "full_outer")
      .select(col("__k").as(keyCol),
        when(col("__old_fp").isNull, lit("added"))
          .when(col("__new_fp").isNull, lit("removed"))
          .when(col("__old_fp") =!= col("__new_fp"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"))
  }

  /** Small-file compaction / shard-packing planner: within each
    * partition key, items are packed in a deterministic order into
    * sequential target-size shards — shard id = floor(running size
    * BEFORE this item / target), the streaming first-fit plan a
    * compactor can execute file-by-file. One window per partition key
    * (prefix sum), one aggregate; no global sort — each source's plan
    * is independent, so at 100 TB the planning itself partitions.
    *
    * Output per (partCol, shard): partCol, shard, n_items, tot_size,
    * first item, last item (by orderCol), fill = tot_size/target. */
  def compactionPlan(df: DataFrame, partCol: String, orderCol: String,
                     sizeCol: Column, targetSize: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(partCol)).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    df.select(col(partCol), col(orderCol),
        sizeCol.cast("long").as("__sz"))
      .withColumn("shard",
        (coalesce(sum(col("__sz")).over(w), lit(0L)) /
          lit(targetSize)).cast("long"))
      .groupBy(col(partCol), col("shard"))
      .agg(count(lit(1)).as("n_items"), sum(col("__sz")).as("tot_size"),
        min(col(orderCol)).as("first_item"),
        max(col(orderCol)).as("last_item"))
      .withColumn("fill",
        col("tot_size").cast("double") / lit(targetSize.toDouble))
  }

  /** Partial aggregate state for incremental materialized-view
    * maintenance: per-key (n, sum_v, min_v, max_v) over one data slice
    * (a partition, a day, a delta batch). States are data, not plans —
    * persist them and the base slice never needs re-scanning. Use an
    * exact-integer value column (e.g. money in cents as BIGINT) so
    * merged sums are bit-equal to a full recompute regardless of fold
    * order. */
  def partialAggState(df: DataFrame, keys: Seq[String],
                      valueCol: Column): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"), sum(valueCol).as("sum_v"),
        min(valueCol).as("min_v"), max(valueCol).as("max_v"))

  /** Merges [[partialAggState]] slices into the full-data aggregate:
    * union + one re-aggregation (sum of counts/sums, min of mins, max
    * of maxs — all algebraic, so any grouping of slices merges to the
    * same result). At 100 TB this is the nightly-refresh shape: merge
    * yesterday's state with today's delta state instead of re-scanning
    * the full history. */
  def mergeAggStates(states: Seq[DataFrame], keys: Seq[String]): DataFrame =
    states.reduce(_ unionByName _)
      .groupBy(keys.map(col): _*)
      .agg(sum(col("n")).as("n"), sum(col("sum_v")).as("sum_v"),
        min(col("min_v")).as("min_v"), max(col("max_v")).as("max_v"))
}
