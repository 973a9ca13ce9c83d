package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Join operators beyond plain equi-joins (SURVEY.md §2.4 J1/J4).
  */
object Joins {

  /** Backward as-of join: for each left row, the latest right row with
    * the same key and `rightTime <= leftTime`.
    *
    * Implemented as union + partitioned sort + `last(ignoreNulls)`
    * window — a single shuffle on the key, no per-row subquery and no
    * broadcast requirement, so it scales to arbitrarily large sides
    * (the classic distributed as-of shape; wall-clock is one sort-merge
    * pass per key partition). Ties on time are broken by `rightOrd`
    * (larger wins), making the result deterministic.
    *
    * The reference has no relational joins (its only join is the
    * map-side category lookup,
    * /root/reference/src/main/java/de/unimarburg/diz/labtofhir/mapper/Hl7LabMapper.java:397-400);
    * this is part of the engine's J4 completion surface.
    */
  def asofJoinBackward(left: DataFrame, right: DataFrame, key: String,
      leftTime: String, rightTime: String, rightOrd: String,
      rightVals: Seq[String]): DataFrame = {
    val rightCols = (rightTime +: rightOrd +: rightVals).distinct
    val leftCols = left.columns.toSeq

    // the right row travels as ONE struct — filling columns
    // independently with last(ignoreNulls) would resurrect stale
    // values for columns that are legitimately null in the winning row
    val rStruct = struct(rightCols.map(col): _*)
    val lTagged = left
      .withColumn("__t", col(leftTime).cast("timestamp"))
      .withColumn("__side", lit(1))
      .withColumn("__ord", lit(Long.MaxValue))
      .withColumn("__r", lit(null).cast(
        org.apache.spark.sql.types.StructType(rightCols.map(c => right.schema(c)))))

    val rTagged0 = right
      .withColumn("__t", col(rightTime).cast("timestamp"))
      .withColumn("__side", lit(0))
      .withColumn("__ord", col(rightOrd).cast("long"))
      .withColumn("__r", rStruct)
    // null-out left-side columns on right rows
    val rTagged = leftCols.filterNot(_ == key).foldLeft(rTagged0) { (df, c) =>
      df.withColumn(c, lit(null).cast(left.schema(c).dataType))
    }

    val sel = (col(key) +: leftCols.filterNot(_ == key).map(col)) :+
      col("__t") :+ col("__side") :+ col("__ord") :+ col("__r")
    val unioned = lTagged.select(sel: _*).unionByName(rTagged.select(sel: _*))

    // left rows sort after right rows at equal time (__side 1 > 0);
    // among right rows at equal time the larger __ord lands last.
    val w = Window.partitionBy(col(key))
      .orderBy(col("__t").asc, col("__side").asc, col("__ord").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val filled = unioned
      .withColumn("__r", last(col("__r"), ignoreNulls = true).over(w))
    val out = filled
      .filter(col("__side") === 1)
      .drop("__t", "__side", "__ord")
    rightCols.foldLeft(out) { (df, c) =>
      df.withColumn(s"r_$c", col("__r").getField(c))
    }.drop("__r")
  }

  /** Backward as-of join on the dedicated Catalyst operator
    * ([[graft.plans.AsofJoin]]): same semantics as
    * [[asofJoinBackward]], planned as one co-partitioned O(n+m)
    * streaming merge per partition instead of union + window. The
    * session needs [[graft.GraftExtensions]] (its planner strategy).
    */
  def asofJoinNative(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String, rightOrd: String): DataFrame = {
    val spark = left.sparkSession
    val lPlan = left.queryExecution.analyzed
    val rPlan = right.queryExecution.analyzed
    def attr(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, n: String) =
      p.output.find(_.name == n)
        .getOrElse(throw new IllegalArgumentException(s"no column $n"))
    org.apache.spark.sql.graftbridge.SparkBridge.ofRows(spark,
      graft.plans.AsofJoin(lPlan, rPlan,
        attr(lPlan, leftKey), attr(rPlan, rightKey),
        attr(lPlan, leftTime), attr(rPlan, rightTime), attr(rPlan, rightOrd)))
  }

  /** Static broadcast lookup join with first-wins key dedup — the
    * Mappingkatalog pattern (SURVEY.md §2.4 J1 + §2.5 A2): the lookup
    * side is deduplicated by minimum `ordCol` (CSV line order) before
    * being broadcast; misses yield null (LEFT semantics, matching
    * /root/reference/src/main/java/de/unimarburg/diz/labtofhir/configuration/MappingConfiguration.java:40-45).
    */
  def broadcastLookupJoin(facts: DataFrame, lookup: DataFrame,
      factKey: String, lookupKey: String, ordCol: String): DataFrame = {
    val w = Window.partitionBy(col(lookupKey)).orderBy(col(ordCol).asc)
    val deduped = lookup
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", ordCol)
    facts.join(broadcast(deduped), facts(factKey) === deduped(lookupKey), "left")
      .drop(deduped(lookupKey))
  }

  /** Non-equi range join of facts against a small bands table
    * (`lo <= v < hi`). The bands side is broadcast, so the "join"
    * is a map-side interval probe — no shuffle of the fact side.
    */
  def rangeBandJoin(facts: DataFrame, valueCol: String, bands: DataFrame,
      loCol: String, hiCol: String, joinType: String = "inner"): DataFrame =
    facts.join(
      broadcast(bands),
      facts(valueCol) >= bands(loCol) && facts(valueCol) < bands(hiCol),
      joinType)
}
