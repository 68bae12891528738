package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed as-of (point-in-time) join — the temporal operator Spark
  * lacks natively (extension — SURVEY §7.2.8): for each left row, attach
  * the payload of the MOST RECENT right row with the same key and a
  * timestamp STRICTLY BEFORE the left row's (the "latest state known
  * before this event" lookup of feature stores and event pipelines).
  *
  * Implementation is the single-shuffle union+window shape, not a range
  * join: both sides are tagged and unioned, shuffled ONCE on the key,
  * and a per-key `last(payload, ignoreNulls)` over rows up to the
  * current one resolves every left row in one sorted pass. Right rows
  * sort AFTER left rows at equal timestamps, which is exactly the
  * strict-inequality semantic (a right row at the same instant is not
  * yet visible). No per-key loops, no |left|×|right| candidate
  * explosion, and skew is bounded by rows-per-key — the plan a range
  * join (`l.ts > r.ts` theta-join) would never give you at scale.
  */
object AsOf {

  /** Left rows + one nullable struct column `asofCol` holding the
    * payload (`payloadCols` from `right`) of the latest strictly-prior
    * right row per `keyCol`. Left rows with no prior right row get NULL.
    * Ties between right rows at the same (key, ts) resolve by the later
    * union position; pass a unique `tsCol` (or pre-dedup) for full
    * determinism.
    */
  def joinPrior(
      left: DataFrame, right: DataFrame,
      keyCol: String, tsCol: String,
      payloadCols: Seq[String], asofCol: String = "asof"): DataFrame = {
    val r = right.select(col(keyCol).as("__k"), col(tsCol).as("__ts"),
      struct(payloadCols.map(col): _*).as("__p"))
    val l = left.select(col(keyCol).as("__k"), col(tsCol).as("__ts"),
      struct(left.columns.toIndexedSeq.map(col): _*).as("__l"))
    val u = l.select(col("__k"), col("__ts"), lit(0).as("__side"),
        col("__l"), lit(null).cast(r.schema("__p").dataType).as("__p"))
      .unionByName(r.select(col("__k"), col("__ts"), lit(1).as("__side"),
        lit(null).cast(l.schema("__l").dataType).as("__l"), col("__p")))
    val w = Window.partitionBy(col("__k"))
      .orderBy(col("__ts"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    u.withColumn("__match", last(col("__p"), ignoreNulls = true).over(w))
      .filter(col("__side") === 0)
      .select(col("__l.*"), col("__match").as(asofCol))
  }

  /** [[joinPrior]] through the CUSTOM PHYSICAL OPERATOR
    * ([[graft.plans.AsofJoinExec]]) instead of the union+window
    * composition — same output contract (left columns + nullable
    * `asofCol` struct; AsofExecSpec pins row-for-row equivalence).
    * Each side shuffles its OWN rows once on the key, sorts
    * (key, time), and a streaming per-partition merge holds ONE
    * candidate payload. EnsureRequirements places the exchanges, so an
    * already-partitioned side (bucketed table, prior aggregation)
    * shuffles zero times, and AQE coalesces both sides together.
    *
    * When to prefer which (measured; SURVEY.md, as-of exec row): on
    * small BALANCED inputs the composed form's single exchange is
    * slightly cheaper (two stages of fixed overhead vs one); on HOT
    * KEYS the exec is
    * ~1.6x faster (2M and 8M rows/side on one key) and — the part that
    * matters at 100 TB — O(1) memory per key, where the window form
    * buffers every row of the hot key in the WindowExec frame array
    * (ExternalAppendOnlyUnsafeRowArray: allocate, then spill). The exec
    * cannot OOM or spill on skew; the window form degrades with the
    * biggest key.
    *
    * Registers [[graft.plans.AsofJoinStrategy]] on the session
    * idempotently — no `withExtensions` wiring needed.
    */
  def joinPriorMerge(
      left: DataFrame, right: DataFrame,
      keyCol: String, tsCol: String,
      payloadCols: Seq[String], asofCol: String = "asof",
      strict: Boolean = true): DataFrame = {
    val spark = left.sparkSession
    val shim = org.apache.spark.sql.graftshim.GraftShim
    shim.addStrategy(spark, graft.plans.AsofJoinStrategy)
    // the right side is re-aliased with reserved names for key/time; a
    // payload column with one of those names would silently shadow the
    // alias — reject loudly instead
    val reserved = Set("__asof_k", "__asof_t")
    require(!payloadCols.exists(reserved), s"payload columns may not use the " +
      s"reserved as-of aliases ${reserved.mkString(", ")}: $payloadCols")
    // re-alias the right side: fresh exprIds (safe under self-join) and
    // reserved names for key/time so payload columns keep their own
    val r = right.select(
      (col(keyCol).as("__asof_k") +: col(tsCol).as("__asof_t") +:
        payloadCols.map(c => col(c).as(c))): _*)
    val lp = shim.analyzed(left)
    val rp = shim.analyzed(r)
    def attr(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, name: String) = {
      val matches = p.output.filter(_.name == name)
      require(matches.size == 1, s"column '$name' must resolve to exactly one " +
        s"attribute, found ${matches.size} in ${p.output.map(_.name)} — " +
        "disambiguate duplicate-named columns before the as-of join")
      matches.head
    }
    val payload = payloadCols.map(c => attr(rp, c))
    shim.ofRows(spark, graft.plans.AsofJoin(
      lp, rp,
      attr(lp, keyCol), attr(rp, "__asof_k"),
      attr(lp, tsCol), attr(rp, "__asof_t"),
      payload, graft.plans.AsofJoinMode.Prior(strict),
      graft.plans.AsofJoin.outAttrFor(asofCol, payload)))
  }

  /** NEAREST-event join through the custom physical operator — the
    * [[joinNearest]] semantics (closest |delta| within tolerance,
    * backward-preferred ties, LongType times, right unique per
    * (key, t)) with [[joinPriorMerge]]'s execution shape: one shuffle +
    * sort per side, then a per-partition streaming merge holding ONE
    * backward candidate while the unconsumed right head doubles as the
    * forward candidate — O(1) memory per key where the composed form's
    * two windows buffer each key's full history twice. Output matches
    * [[joinNearest]]: left columns + `nearestCol` struct
    * `(t: long, p: struct(payload))`, NULL when nothing lands within
    * tolerance. AsofExecSpec pins row-for-row equivalence.
    */
  def joinNearestMerge(
      left: DataFrame, right: DataFrame,
      keyCol: String, tCol: String,
      payloadCols: Seq[String], tolerance: Long,
      nearestCol: String = "nearest"): DataFrame = {
    val spark = left.sparkSession
    val shim = org.apache.spark.sql.graftshim.GraftShim
    shim.addStrategy(spark, graft.plans.AsofJoinStrategy)
    val reserved = Set("__asof_k", "__asof_t", "__asof_lt", "t", "p")
    require(!payloadCols.exists(reserved), s"payload columns may not use the " +
      s"reserved nearest-as-of aliases ${reserved.mkString(", ")}: $payloadCols")
    require(!left.columns.contains("__asof_lt"),
      "left may not already contain the reserved column __asof_lt")
    // right carries its (long) time twice: once as the merge key, once
    // as the payload struct's `t` field (the delta the caller reads)
    val r = right.select(
      col(keyCol).as("__asof_k"),
      col(tCol).cast("long").as("__asof_t"),
      col(tCol).cast("long").as("t"),
      struct(payloadCols.map(col): _*).as("p"))
    val l = left.withColumn("__asof_lt", col(tCol).cast("long"))
    val lp = shim.analyzed(l)
    val rp = shim.analyzed(r)
    def attr(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, name: String) = {
      val matches = p.output.filter(_.name == name)
      require(matches.size == 1, s"column '$name' must resolve to exactly one " +
        s"attribute, found ${matches.size} in ${p.output.map(_.name)} — " +
        "disambiguate duplicate-named columns before the as-of join")
      matches.head
    }
    val payload = Seq(attr(rp, "t"), attr(rp, "p"))
    shim.ofRows(spark, graft.plans.AsofJoin(
        lp, rp,
        attr(lp, keyCol), attr(rp, "__asof_k"),
        attr(lp, "__asof_lt"), attr(rp, "__asof_t"),
        payload, graft.plans.AsofJoinMode.Nearest(tolerance),
        graft.plans.AsofJoin.outAttrFor(nearestCol, payload)))
      .drop("__asof_lt")
  }

  /** NEAREST-event join: for each left row, the right row with the same
    * key whose time is CLOSEST in either direction, within `tolerance`
    * time units — the sensor/log alignment variant of [[joinPrior]]
    * (backward-only). Ties in |delta| prefer the backward match (state
    * already known beats state from the future). `tCol` must be an
    * integer time column (e.g. epoch micros) on BOTH inputs so every
    * delta comparison is exact; `right` must be unique per (key, t) —
    * pre-dedup with a window if it isn't, or matches at duplicated
    * instants are nondeterministic.
    *
    * Same scale shape as [[joinPrior]]: one union, ONE shuffle on the
    * key, two windowed passes (ascending for the backward candidate,
    * descending for the forward one) — never a |L|×|R| range join.
    * Output: left columns + `nearestCol` struct (t + payload, NULL when
    * nothing lands within tolerance).
    */
  def joinNearest(
      left: DataFrame, right: DataFrame,
      keyCol: String, tCol: String,
      payloadCols: Seq[String], tolerance: Long,
      nearestCol: String = "nearest"): DataFrame = {
    val r = right.select(col(keyCol).as("__k"), col(tCol).cast("long").as("__ts"),
      struct(payloadCols.map(col): _*).as("__p"))
    val l = left.select(col(keyCol).as("__k"), col(tCol).cast("long").as("__ts"),
      struct(left.columns.toIndexedSeq.map(col): _*).as("__l"))
    // right rows tag 0 so they sort BEFORE left at equal t in BOTH
    // passes: a same-instant right row is a valid delta-0 match
    val u = l.select(col("__k"), col("__ts"), lit(1).as("__side"),
        col("__l"), lit(null).cast(r.schema("__p").dataType).as("__p"))
      .unionByName(r.select(col("__k"), col("__ts"), lit(0).as("__side"),
        lit(null).cast(l.schema("__l").dataType).as("__l"), col("__p")))
      .withColumn("__cand",
        when(col("__side") === 0,
          struct(col("__ts").as("t"), col("__p").as("p"))))
    val wb = Window.partitionBy(col("__k"))
      .orderBy(col("__ts").asc, col("__side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wf = Window.partitionBy(col("__k"))
      .orderBy(col("__ts").desc, col("__side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val back = last(col("__cand"), ignoreNulls = true).over(wb)
    val fwd = last(col("__cand"), ignoreNulls = true).over(wf)
    u.withColumn("__b", back).withColumn("__f", fwd)
      .filter(col("__side") === 1)
      .withColumn("__db", col("__ts") - col("__b.t"))
      .withColumn("__df", col("__f.t") - col("__ts"))
      .withColumn("__chosen",
        when(col("__b").isNull && col("__f").isNull, lit(null))
          .when(col("__f").isNull, col("__b"))
          .when(col("__b").isNull, col("__f"))
          .when(col("__db") <= col("__df"), col("__b"))
          .otherwise(col("__f")))
      .withColumn(nearestCol,
        when(abs(col("__chosen.t") - col("__ts")) <= tolerance, col("__chosen")))
      .select(col("__l.*"), col(nearestCol))
  }
}
