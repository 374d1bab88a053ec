package graft.tools

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Dev-only per-job profiler (optimization guide §1: find where the time
  * goes before touching code; the UI is off in this sandbox, so a listener
  * stands in for the Stages tab). Runs one registered query — one untimed
  * warmup, then one instrumented rep — and prints every Spark job of the
  * instrumented rep with its wall time and aggregate task metrics (task
  * time, shuffle read/write bytes, input bytes, peak single-task time), so
  * a multi-job iterative query shows which round/stage owns the cost.
  * `runMain graft.tools.JobProbe <queryName> [sfDir]` */
object JobProbe {

  private final class Collector extends SparkListener {
    case class Job(id: Int, desc: String, var t0: Long = 0L, var t1: Long = 0L,
        val stages: mutable.Set[Int] = mutable.Set())
    val jobs = mutable.LinkedHashMap[Int, Job]()
    val stageMetrics = mutable.Map[Int, (Long, Long, Long, Long, Long, Int)]()
    // (taskTimeMs, shufReadB, shufWriteB, inputB, maxTaskMs, nTasks)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val desc = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
      val j = Job(e.jobId, desc, t0 = e.time)
      e.stageIds.foreach(j.stages.add)
      jobs(e.jobId) = j
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.t1 = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val s = e.stageInfo
        val tm = s.taskMetrics
        stageMetrics(s.stageId) = (
          tm.executorRunTime,
          tm.shuffleReadMetrics.totalBytesRead,
          tm.shuffleWriteMetrics.bytesWritten,
          tm.inputMetrics.bytesRead,
          0L,
          s.numTasks)
      }
    def report(): Unit = synchronized {
      var wall = 0L
      jobs.values.foreach { j =>
        val (tt, sr, sw, in, _, nt) = j.stages.toSeq.flatMap(stageMetrics.get)
          .foldLeft((0L, 0L, 0L, 0L, 0L, 0)) { case ((a, b, c, d, e2, f), m) =>
            (a + m._1, b + m._2, c + m._3, d + m._4, e2 max m._5, f + m._6) }
        val ms = j.t1 - j.t0
        wall += ms
        println(f"JOBPROBE job=${j.id}%3d wall=${ms / 1000.0}%6.2fs " +
          f"taskTime=${tt / 1000.0}%7.2fs tasks=$nt%4d " +
          f"shufR=${sr / 1048576.0}%7.1fMB shufW=${sw / 1048576.0}%7.1fMB " +
          f"input=${in / 1048576.0}%7.1fMB  ${j.desc.take(60)}")
      }
      println(f"JOBPROBE total_job_wall=${wall / 1000.0}%.2fs n_jobs=${jobs.size}")
    }
  }

  def main(args: Array[String]): Unit = {
    val name = args(0)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val fn = graft.SparkEntry.queries(name)
    val spark = graft.Engine.session("job-probe")
    graft.Engine.quietSweepLogging()
    // warmup (codegen + JIT), swept like a bench query boundary
    val t0w = System.nanoTime()
    fn(spark, dir).count()
    val warm = (System.nanoTime() - t0w) / 1e9
    graft.Engine.resetBetweenQueries(spark)
    val c = new Collector
    spark.sparkContext.addSparkListener(c)
    val t0 = System.nanoTime()
    val n = fn(spark, dir).count()
    val sec = (System.nanoTime() - t0) / 1e9
    // drain the listener bus before reporting (private API — poll instead)
    Thread.sleep(500)
    println(f"JOBPROBE query=$name warmup=$warm%.2fs timed=$sec%.2fs rows=$n")
    c.report()
    spark.stop()
  }
}
