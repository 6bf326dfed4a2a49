package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of join: for each left row, attach the latest right row with
  * `right.ts <= left.ts` within the same key — the canonical
  * trade-to-quote / event-to-latest-state join. The reference
  * approximates this with a per-batch "latest bar per symbol" JDBC
  * subquery (stock_stream.py:39-58); this is the general, single-pass
  * form.
  *
  * Implementation (built-ins only, per the compose-first rule): tag and
  * union both sides, then one window per key ordered by (ts, side) and
  * carry the right row forward as a single struct with
  * last_value(ignoreNulls) — one struct, not one window per column, so
  * every carried value comes from the SAME right row and a genuinely
  * NULL right value stays NULL instead of falling through to an older
  * row. Equal timestamps: the right row sorts first, so matches are
  * inclusive (`<=`), same as the oracle engine's ASOF semantics.
  *
  * Scale: exactly one hash shuffle on the key + an in-partition sort —
  * no range cross-product, no per-row subquery; state is one carried
  * row per key during the scan. Skewed keys can be salted upstream.
  */
object AsOfJoin {
  /** @param left       probe side (keeps all its columns)
    * @param right      reference side; only `rightCols` are attached
    * @param keyCols    equi-key columns present on both sides
    * @param leftTs     left event-time column name
    * @param rightTs    right event-time column name
    * @param rightCols  right columns to carry (renamed as given) */
  def asOf(left: DataFrame, right: DataFrame, keyCols: Seq[String],
           leftTs: String, rightTs: String,
           rightCols: Map[String, String]): DataFrame = {
    import org.apache.spark.sql.types.{StructField, StructType}
    // the carried right row as one struct — typed null on the left side
    // (union requires both sides to agree on column types)
    val rStruct = StructType(rightCols.toSeq.map { case (src, dst) =>
      StructField(dst, right.schema(src).dataType, nullable = true) })
    val lPadded = left.withColumn("__ts", col(leftTs)).withColumn("__side", lit(1))
      .withColumn("__r", lit(null).cast(rStruct))
    // right rows with a NULL key or NULL ts can never satisfy
    // `r.key = l.key AND r.ts <= l.ts`; drop them here — otherwise a
    // NULL __ts sorts FIRST in the window and gets carried as a
    // spurious "earliest" match, and NULL keys would meet NULL-key
    // left rows in the same window partition (partitionBy groups NULLs)
    val r0 = right
      .filter((keyCols.map(col(_).isNotNull) :+ col(rightTs).isNotNull).reduce(_ && _))
      .select(
        (keyCols.map(col) :+ col(rightTs).as("__ts")) :+
          struct(rightCols.toSeq.map { case (src, dst) => col(src).as(dst) }: _*)
            .as("__r"): _*)
      .withColumn("__side", lit(0))
    // align right frame to the left's full column set (typed nulls elsewhere)
    val rPadded = lPadded.columns.foldLeft(r0) { (d, c) =>
      if (d.columns.contains(c)) d
      else d.withColumn(c, lit(null).cast(lPadded.schema(c).dataType))
    }.select(lPadded.columns.toIndexedSeq.map(col): _*)
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("__ts"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val joined = lPadded.union(rPadded)
      .withColumn("__r", last(col("__r"), ignoreNulls = true).over(w))
    rightCols.values.foldLeft(joined.filter(col("__side") === 1)) { (d, dst) =>
      d.withColumn(dst, col("__r").getField(dst))
    }.drop("__ts", "__side", "__r")
  }

  /** Broadcast form: for a BOUNDED right side (a dimension-sized quote
    * or state table), pack each key's right rows into one
    * time-sorted array, broadcast the packed frame, and probe with an
    * O(log n) binary-search expression (graft.plans.AsOfPick, full
    * codegen). The left side is NEVER shuffled or sorted — at 100 TB
    * of facts against KB-MB of reference rows this is the plan you
    * want; [[asOf]]/[[asOfNative]] shuffle both sides and remain the
    * general path when the right side is unbounded. (On local[32] the
    * two measured at parity — the retired `asof_bounded_*` probe,
    * `git show c0bf020:src/main/scala/graft/tools/ScaleSmoke.scala` —
    * because an in-process shuffle costs almost nothing; the broadcast
    * form's advantage is on real clusters, where a fact-side shuffle is
    * network + disk.)
    *
    * Same semantics as the other forms (left-outer, inclusive
    * `right.ts <= left.ts`, NULL keys/ts match nothing), except ties:
    * among right rows sharing (key, ts), this form picks the largest
    * carried tuple (sort_array order) — the other forms pick an
    * arbitrary one, so all forms agree wherever (key, ts) is unique. */
  def asOfBroadcast(left: DataFrame, right: DataFrame, keyCols: Seq[String],
                    leftTs: String, rightTs: String,
                    rightCols: Map[String, String]): DataFrame = {
    val lt = left.schema(leftTs).dataType
    val rt = right.schema(rightTs).dataType
    require(graft.plans.AsOfJoinNode.longBacked(lt) && lt == rt,
      s"as-of ordering columns must be matching TIMESTAMP or BIGINT, " +
        s"got ${lt.simpleString} vs ${rt.simpleString}")
    val packed = right
      .filter((keyCols.map(col(_).isNotNull) :+ col(rightTs).isNotNull).reduce(_ && _))
      .groupBy(keyCols.map(col): _*)
      .agg(sort_array(collect_list(struct(
        col(rightTs).as("__ts") +:
          rightCols.toSeq.map { case (src, dst) => col(src).as(dst) }: _*)))
        .as("__arr"))
    val joined = left.join(broadcast(packed), keyCols, "left")
      .withColumn("__m",
        graft.plans.LookupExprs.asOfPick(col("__arr"), col(leftTs)))
    rightCols.values.foldLeft(joined) { (d, dst) =>
      d.withColumn(dst, col("__m").getField(dst))
    }.drop("__arr", "__m")
  }

  /** Native whole-operator form (graft.plans.AsOfJoinExec): sort-merge
    * scan with one carried right row per key — zero padding columns, no
    * window frames, one pass. Same semantics (left-outer, inclusive
    * `right.ts <= left.ts`) as [[asOf]]; requires timestamp/long
    * ordering columns. The right side is re-aliased, so self-as-of
    * (same source both sides) is safe. */
  def asOfNative(left: DataFrame, right: DataFrame, keyCols: Seq[String],
                 leftTs: String, rightTs: String,
                 rightCols: Map[String, String]): DataFrame = {
    import graft.plans.{AsOfJoinNode, AsOfJoinStrategy}
    import graft.plans.NativeJoinSupport.{attr, ensureStrategy}
    import org.apache.spark.sql.GraftShim
    val spark = left.sparkSession
    ensureStrategy(spark, AsOfJoinStrategy)
    // fresh exprIds on the right via aliases → self-as-of safe
    val rAliased = right.select(
      keyCols.map(c => col(c).as(s"__rk_$c")) ++
        Seq(col(rightTs).as("__rts")) ++
        rightCols.map { case (src, dst) => col(src).as(dst) }: _*)
    val lPlan = left.queryExecution.analyzed
    val rPlan = rAliased.queryExecution.analyzed
    val node = AsOfJoinNode(lPlan, rPlan,
      keyCols.map(attr(lPlan, _)), keyCols.map(c => attr(rPlan, s"__rk_$c")),
      attr(lPlan, leftTs), attr(rPlan, "__rts"),
      rightCols.values.toSeq.map(attr(rPlan, _)))
    GraftShim.ofRows(spark, node)
  }
}
