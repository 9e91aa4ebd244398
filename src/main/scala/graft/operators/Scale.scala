package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale machinery the reference leaves to the user and Spark makes
  * explicit: skew salting and bucketed (co-located) joins.
  *
  * At 100 TB these are the two levers that decide whether a shuffle-heavy
  * plan finishes: salting spreads a hot key over `salt` sub-keys (two-phase
  * aggregation), and bucketing pre-partitions fact tables on the join key so
  * repeated joins run with NO exchange at all (BucketingSpec asserts the
  * plan shape).
  *
  * AQE's skew-join splitting (`spark.sql.adaptive.skewJoin.*`, on by
  * default) handles join-side skew at runtime; explicit salting remains the
  * tool for aggregation skew and for deterministic plans.
  */
object Scale {

  /** THE size-gated broadcast hint: hint only while the side provably fits
    * as a HashedRelation, let the exchange happen above the gate. One home
    * for the policy — `Graph.maybeBroadcast` (node-count gate inside
    * AQE-less iteration loops) and `TpchQueries.broadcastIfSmall`
    * (SF-growing dimension subsets) both delegate here, so a future change
    * of gate quantity (e.g. rows → estimated bytes) lands once. Pass
    * `knownCount` when the caller already paid for a count (iteration
    * loops count nodes up front); otherwise one count() action runs — use
    * only where that cost is amortized by the join it guards. */
  def broadcastIfSmall(df: DataFrame, maxRows: Long,
      knownCount: Option[Long] = None): DataFrame = {
    val n = knownCount.getOrElse(df.count())
    if (n <= maxRows) broadcast(df)
    else {
      // the reference treats an explicit ship_broadcast_right as the user's
      // binding choice (join/ship.rs:141); this engine deliberately drops
      // the hint above the gate and lets AQE pick — log the divergence so
      // an over-the-gate drop is observable instead of a silent plan change
      System.err.println(
        s"[graft-scale] broadcast hint DROPPED: side has $n rows > gate " +
          s"$maxRows — AQE picks the join strategy")
      df
    }
  }

  /** Two-phase salted SUM: spread each group over `salt` sub-groups,
    * partially sum, then merge the partials — the algebraic-aggregate
    * skew pattern (sibling [[saltedCount]] is the count instance). */
  def saltedSum(df: DataFrame, key: Column, value: Column, salt: Int,
      keyName: String = "key", sumName: String = "sum"): DataFrame = {
    val salted = df.groupBy(key.as(keyName),
        pmod(spark_partition_id() + monotonically_increasing_id(), lit(salt)).as("_salt"))
      .agg(sum(value).as("_psum"))
    salted.groupBy(col(keyName)).agg(sum(col("_psum")).as(sumName))
  }

  def saltedCount(df: DataFrame, key: Column, salt: Int,
      keyName: String = "key", cntName: String = "n"): DataFrame = {
    val salted = df.groupBy(key.as(keyName),
        pmod(spark_partition_id() + monotonically_increasing_id(), lit(salt)).as("_salt"))
      .agg(count(lit(1)).as("_pcnt"))
    salted.groupBy(col(keyName)).agg(sum(col("_pcnt")).as(cntName))
  }

  /** Skew profile of a key: the top-`topN` keys by row count with their
    * corpus fractions, plus total rows and key cardinality on every row —
    * the report that decides whether a join/agg key needs [[saltedJoin]]/
    * AQE skew handling before a large run (a key holding ≥ ~1/partitions
    * of the rows will straggle its reducer).
    *
    * Scale shape: one partial-aggregated groupBy(key) count (never the
    * rows), a TakeOrdered for the top N, and a tiny two-cell aggregate of
    * the counts table broadcast back over the N rows. */
  def skewProfile(df: DataFrame, key: Column, topN: Int = 10,
      keyName: String = "key"): DataFrame = {
    val counts = df.groupBy(key.as(keyName)).agg(count(lit(1)).as("cnt"))
    val totals = counts.agg(sum(col("cnt")).as("total"),
      count(lit(1)).as("n_keys"))
    counts.orderBy(col("cnt").desc, col(keyName).asc).limit(topN)
      .crossJoin(broadcast(totals))
      .select(col(keyName), col("cnt"), col("total"), col("n_keys"),
        (col("cnt").cast("double") / col("total").cast("double")).as("frac"))
  }

  /** Salted join against a skewed left key: replicate the (small) right side
    * `salt` times, salt the left key randomly-but-deterministically, join on
    * (key, salt). Use when one key dominates and the right side is small
    * enough to replicate but too big to broadcast whole. */
  def saltedJoin(left: DataFrame, right: DataFrame, leftKey: Column,
      rightKey: Column, salt: Int): DataFrame = {
    // reserved-name guard (the AsOfJoin/RangeJoin discipline): a left _salt
    // would be silently overwritten, a right one would make the join
    // condition ambiguous at analysis time with no hint at the cause
    val clash = (left.columns ++ right.columns).filter(_ == "_salt")
    require(clash.isEmpty, "saltedJoin reserves the column name _salt")
    val saltedLeft = left.withColumn("_salt",
      pmod(xxhash64(monotonically_increasing_id()), lit(salt)))
    val saltedRight = right.crossJoin(
      spark(right).range(salt).select(col("id").cast("int").as("_salt")))
    saltedLeft.join(saltedRight,
      leftKey === rightKey && saltedLeft("_salt") === saltedRight("_salt"))
      .drop("_salt")
  }

  /** Bloom-pruned join — the runtime-filter pattern as an explicit
    * operator: build a Bloom filter over the build side's join keys (one
    * scan, a driver-side bitset sized by expectedItems/fpp), broadcast it,
    * and prefilter the PROBE side before its shuffle. The result is EXACT:
    * the join re-checks every key, Bloom false positives merely survive
    * pruning (they cost shuffle bytes, not correctness).
    *
    * When to use at 100 TB: the probe side is huge, the join is selective
    * (most probe rows have no partner), and the build side is too big to
    * broadcast outright — a broadcast-hash join would OOM, but a few MB of
    * Bloom bits still travel to every executor and strip the probe shuffle
    * down to (match rate + fpp) of the corpus. Complements AQE's own
    * runtime filters by being available on any join the caller chooses,
    * with an explicitly budgeted bitset.
    *
    * The probe predicate is [[graft.plans.BloomExpressions.mightContain]] —
    * a codegen'd native expression over a broadcast filter handle (no UDF
    * bridge, no megabyte plan literal); it gates rows BEFORE the exchange,
    * so the pruned rows never pay serialization or network at all. */
  def bloomPrunedJoin(probe: DataFrame, build: DataFrame, probeKey: String,
      buildKey: String, expectedItems: Long, fpp: Double = 0.01,
      joinType: String = "inner"): DataFrame = {
    // Prefiltering the probe side is only sound when unmatched probe rows
    // carry nothing to the result. Outer joins must emit them null-extended
    // and anti joins must emit them AS the result — pruning would silently
    // drop required output, so those types are rejected, not miscomputed.
    val safe = Set("inner", "leftsemi", "cross", "semi")
    require(safe.contains(joinType.toLowerCase.replace("_", "")),
      s"bloomPrunedJoin supports only inner/left_semi/cross joins " +
        s"(probe-side pruning drops rows an outer/anti join must emit); " +
        s"got '$joinType'")
    // the Bloom derivation hashes each key's OWN string rendering, so
    // mismatched key types produce FALSE NEGATIVES (int 5 renders "5",
    // double 5.0 renders "5.0" — the join would coerce and match, the
    // prefilter silently drops the row). Same-type keys are required;
    // the caller casts explicitly, which also makes the join's own
    // comparison semantics visible at the call site.
    val pt = probe.schema(probeKey).dataType
    val bt = build.schema(buildKey).dataType
    require(pt == bt,
      s"bloomPrunedJoin keys must share one data type (probe $probeKey: " +
        s"$pt vs build $buildKey: $bt) — cast one side explicitly")
    // native codegen'd build + probe (plans.BloomExpressions); an EMPTY
    // build side returns no filter — the join below emits nothing for
    // inner/semi anyway, so skip the prefilter instead of failing
    graft.plans.BloomExpressions
      .buildBloom(build, col(buildKey), expectedItems, fpp) match {
      case Some(bloom) =>
        probe.filter(graft.plans.BloomExpressions
            .mightContain(bloom, col(probeKey)))
          .join(build, probe(probeKey) === build(buildKey), joinType)
      case None =>
        probe.join(build, probe(probeKey) === build(buildKey), joinType)
    }
  }

  /** Last-writer-wins compaction — the CDC / recrawl-upsert step: one
    * surviving row per key, the one greatest under (version, tie). Computed
    * as a struct MAX AGGREGATE, not a row_number window: max is
    * associative and commutative, so the partial aggregate reduces every
    * partition to ≤ #keys rows BEFORE the exchange, where the window form
    * shuffles every version of every key and then sorts it. Struct
    * comparison is lexicographic in field order — (version, tie) lead the
    * struct, payload columns ride behind; `tie` must be unique per key for
    * a deterministic survivor (it breaks version collisions before the
    * payload can). */
  def compactLatest(df: DataFrame, key: String, version: String, tie: String,
      payload: Seq[String]): DataFrame = {
    val fields = Seq(version, tie) ++ payload
    df.groupBy(col(key))
      .agg(max(struct(fields.map(col): _*)).as("_latest"))
      .select(col(key) +: fields.map(f => col(s"_latest.$f").as(f)): _*)
  }

  /** Snapshot diff — the other half of the CDC story ([[compactLatest]]
    * collapses a change stream into a snapshot; this compares two
    * snapshots): for each key, emit whether it was `added`, `removed` or
    * `changed` between the old and new version of a keyed table (one row
    * per key per snapshot — compactLatest output composes directly).
    *
    * Scale shape: each side's payload is digested to ONE 64-bit column
    * BEFORE the join, so the full-outer comparison shuffles (key, digest)
    * pairs — never the payload — and the output is CHURN-sized once
    * unchanged keys are dropped (`keepUnchanged = true` retains them for
    * audits). On a 100 TB recrawl where 1% of keys move, the exchange
    * carries 16 bytes/key and the result is 1% of the key space. Null
    * payload cells digest as a reserved sentinel, so null vs empty-string
    * cannot collide. */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, key: String,
      payload: Seq[String], keepUnchanged: Boolean = false): DataFrame = {
    require(payload.nonEmpty, "snapshotDiff needs at least one payload column")
    def digested(df: DataFrame, d: String) = df.select(col(key),
      xxhash64(payload.map(c =>
        coalesce(col(c).cast("string"), lit("\u0000"))): _*).as(d))
    digested(oldDf, "_d_old")
      .join(digested(newDf, "_d_new"), Seq(key), "full_outer")
      .withColumn("change",
        when(col("_d_old").isNull, lit("added"))
          .when(col("_d_new").isNull, lit("removed"))
          .when(col("_d_old") =!= col("_d_new"), lit("changed"))
          .otherwise(lit("unchanged")))
      .filter(lit(keepUnchanged) || col("change") =!= "unchanged")
      .select(col(key), col("change"))
  }

  /** Rebalance a narrow input up to the session shuffle width before a
    * stage that AMPLIFIES per-row work. Scan parallelism is bytes-based and
    * bounded below by parquet row-group granularity, so a small-file corpus
    * otherwise runs its most expensive narrow stage in a handful of tasks —
    * the 594 KB sf0.1 documents table is ONE task, and the pipeline above
    * it single-threads a 32-core executor. The rebalance shuffles only the
    * compact pre-explode rows (corpus text, not derived grams). At cluster
    * scale inputs already arrive wider than the session width and this is
    * a no-op; streaming inputs return unchanged.
    *
    * Applied ONLY where the derived-row construction dominates — measured
    * decision at sf0.1 local[32]: deletion-variant builds + banded
    * levenshtein (fuzzy join 3.6 s → 1.5 s), winnowing window folds,
    * dup-span gram hashing. Cheaper narrow stages LOSE to the rebalance
    * shuffle — split-token explodes (simhash 0.5 s → 0.9 s force-enabled)
    * and even the fused shingle+minhash pass (q_dedup_minhash
    * 0.94 s → 1.38 s, min-of-5) — so simhash/minhash/tfidf/bm25/
    * ngram-jaccard/decontaminate deliberately skip it. The decision is
    * NOT static: charLmScore KEPT it under the composed higher-order-
    * function form (4.5 s → 2.8 s) and DROPPED it once the native
    * plans.CharBigramCounts expression made the per-row work cheap
    * (min-of-3 same-window: 1.60 s without vs 2.34 s with) — re-measure
    * after any hot-path expression change. */
  def fanOut(df: DataFrame): DataFrame =
    if (df.isStreaming) df
    else {
      val target = df.sparkSession.conf
        .get("spark.sql.shuffle.partitions", "200").toInt
      if (df.rdd.getNumPartitions < target) df.repartition(target) else df
    }

  private def spark(df: DataFrame): SparkSession = df.sparkSession

  /** Write a bucketed+sorted table: joins and aggregations on `key` against
    * other tables bucketed the same way run WITHOUT a shuffle. Bucketing
    * metadata needs the (local) catalog; pass `path` to materialize as an
    * external table at an explicit location (otherwise the session's
    * warehouse dir). */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int,
      path: Option[String] = None): Unit = {
    val w = df.write.mode("overwrite").bucketBy(buckets, key).sortBy(key)
    path.fold(w)(p => w.option("path", p)).saveAsTable(table)
  }

  def readBucketed(spark: SparkSession, table: String): DataFrame =
    spark.table(table)
}
