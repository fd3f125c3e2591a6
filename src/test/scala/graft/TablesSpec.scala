package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.BaseRelation

/** Tables.load resolves each parquet relation once per (session, dir,
  * table) and hands out fresh DataFrames over it. */
class TablesSpec extends SparkTestBase {

  private def relation(df: DataFrame): BaseRelation =
    df.queryExecution.analyzed
      .collectFirst { case l: LogicalRelation => l.relation }.get

  /** Spark jobs `f` runs, counted through a job group of its own. */
  private def jobsOf(f: => Unit): Int = {
    val group = s"tables-spec-${System.nanoTime()}"
    spark.sparkContext.setJobGroup(group, group)
    try f finally spark.sparkContext.clearJobGroup()
    spark.sparkContext.statusTracker.getJobIdsForGroup(group).length
  }

  test("the same relation comes back for the same (session, dir, table), " +
      "without another schema-inference job") {
    val first = Tables.load(spark, sf, "nation")
    assert(jobsOf(Tables.load(spark, sf, "nation")) == 0)
    val second = Tables.load(spark, sf, "nation")
    assert(relation(first) eq relation(second))
    assert(!(relation(first) eq relation(Tables.load(spark, sf, "region"))))
    // events goes through the ts normalizer on top of the same relation
    assert(relation(Tables.load(spark, sf, "events")) eq
      relation(Tables.load(spark, sf, "events")))
  }

  test("each load has its own attribute ids, so two loads self-join " +
      "like two separate reads") {
    val a = Tables.load(spark, sf, "nation")
    val b = Tables.load(spark, sf, "nation")
    assert(a.queryExecution.analyzed.output.map(_.exprId)
      .intersect(b.queryExecution.analyzed.output.map(_.exprId)).isEmpty)
    val n = a.count()
    val joined = a.join(b, a("n_nationkey") === b("n_nationkey")).count()
    assert(joined == n)
    val offByOne = a.join(b, a("n_nationkey") === b("n_nationkey") + 1)
      .count()
    assert(offByOne == n - 1)
  }

  test("a new session resolves its own relation") {
    val other = spark.newSession()
    assert(!(relation(Tables.load(other, sf, "nation")) eq
      relation(Tables.load(spark, sf, "nation"))))
    assert(relation(Tables.load(other, sf, "nation")) eq
      relation(Tables.load(other, sf, "nation")))
  }

  test("a cached table is served from InMemoryRelation through the memo") {
    val cached = Tables.load(spark, sf, "region").cache()
    try {
      cached.count()
      val plan = Tables.load(spark, sf, "region")
        .select(col("r_name")).queryExecution.withCachedData
      assert(plan.collectFirst { case m: InMemoryRelation => m }.isDefined,
        plan.treeString)
    } finally cached.unpersist(blocking = true)
  }

  test("clearCache resets both the relation and the row-count memo") {
    val before = relation(Tables.load(spark, sf, "supplier"))
    val n = Tables.countCached(spark, sf, "supplier")
    assert(jobsOf(Tables.countCached(spark, sf, "supplier")) == 0)
    Tables.clearCache()
    assert(!(relation(Tables.load(spark, sf, "supplier")) eq before))
    var again = 0L
    assert(jobsOf { again = Tables.countCached(spark, sf, "supplier") } > 0)
    assert(again == n)
  }
}
