package graft

/** Plan inspector: print `explain("formatted")` for catalog queries.
  * Usage: runMain graft.Explain [sfDir] [name1,name2,...]
  * Defaults to sf0.01 and all queries. The review checklist per plan:
  * PushedFilters / ReadSchema on scans (pushdown + pruning),
  * BroadcastHashJoin for dim joins, WholeStageCodegen spans wide, no
  * CartesianProduct unless intended. The session is `Bench`'s
  * (`Sessions.local()`), so the plan printed is the plan benched. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val only = args.drop(1).headOption.map(_.split(",").toSet)
    val spark = Sessions.local()
    Catalog.entries
      .filter(e => only.forall(_.exists(e.name.startsWith)))
      .foreach { e =>
        println(s"\n========== ${e.name} ==========")
        try e.build(spark, sfDir).explain("formatted")
        catch { case ex: Throwable => println(s"EXPLAIN FAILED: ${ex.getMessage}") }
      }
    spark.stop()
  }
}
