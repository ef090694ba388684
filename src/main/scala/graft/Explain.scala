package graft

/** Plan auditor: prints the formatted physical plan of named queries
  * (all queries if none given) so scan pruning (`ReadSchema`,
  * `PushedFilters`), join strategies (BroadcastHashJoin vs SortMerge),
  * TakeOrderedAndProject, and WholeStageCodegen spans can be inspected.
  * Usage: runMain graft.Explain <sfDir> [query ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val only: Set[String] = args.drop(1).toSet
    Session.run(Session.cpus) { spark =>
      spark.sparkContext.setLogLevel("ERROR")
      SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
        if (only.isEmpty || only(name)) {
          println(s"\n========== $name ==========")
          // The stream_* harnesses EXECUTE their replay inside fn (the
          // returned frame is just the memory-sink read-back), so a
          // default sweep would pay the full state-store commit cycle
          // per query to print a LocalTableScan with none of the
          // stateful plan in it. Audit those via the batch twins
          // (event_*); pass a stream name explicitly to force it.
          if (only.isEmpty && name.startsWith("stream_"))
            println("(skipped: replay executes fully and the explainable " +
              "frame is the sink read-back — name it explicitly to force)")
          else
            try fn(spark, sfDir).explain("formatted")
            catch { case e: Throwable => println(s"EXPLAIN FAILED: ${e.getMessage}") }
        }
      }
      s"[explain] done: $sfDir"
    }
  }
}
