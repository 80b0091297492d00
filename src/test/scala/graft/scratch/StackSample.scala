package graft.scratch

import org.apache.spark.sql.SparkSession

/** Scratch sampling profiler (not shipped): runs a query N times while
  * a sampler thread snapshots every JVM thread's stack each ~10 ms,
  * then prints the most frequent frames grouped by a coarse bucket —
  * the poor-man's flame graph for DRIVER-side time that never appears
  * inside a Spark job (Catalyst planning, lock/manifest file I/O,
  * streaming machinery). runMain graft.scratch.StackSample <sfDir> <query> [reps] */
object StackSample {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.timeType.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val fn = graft.SparkEntry.queries(name)
    fn(spark, sfDir).count() // warm

    val counts = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    @volatile var sampling = true
    val interesting = Seq("stream execution thread", "main")
    val sampler = new Thread(() => {
      while (sampling) {
        val all = Thread.getAllStackTraces
        all.forEach { (t, st) =>
          val nm = t.getName
          // every state is sampled: the bucket key below records it
          if (interesting.exists(nm.startsWith) && st.nonEmpty) {
            // bucket: topmost frame in graft/spark-sql space, else top frame
            val frames = st.map(f => f.getClassName + "." + f.getMethodName)
            val own = frames.find(f => f.startsWith("graft."))
            val sql = frames.find(f =>
              f.contains("catalyst") || f.contains("execution") ||
              f.contains("streaming"))
            val key = (if (t.getState == Thread.State.RUNNABLE) "RUN " else "WAIT ") +
              own.orElse(sql).getOrElse(frames.headOption.getOrElse("?"))
            counts.merge(key, 1L, (a, b) => a + b)
          }
        }
        Thread.sleep(10)
      }
    })
    sampler.setDaemon(true)
    sampler.start()
    val t0 = System.nanoTime()
    (1 to reps).foreach(_ => fn(spark, sfDir).count())
    val dt = (System.nanoTime() - t0) / 1e9
    sampling = false
    println(f"TIMED $dt%.2f s over $reps reps")
    import scala.jdk.CollectionConverters._
    counts.asScala.toSeq.sortBy(-_._2).take(40).foreach { case (k, v) =>
      println(f"$v%6d  $k")
    }
    spark.stop()
  }
}
