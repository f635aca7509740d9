package graft.benchspec

import java.io.File
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr

import graftbench.{Execution, Harness, JobTracer, Json}

/** Runs known work through the benchmark's harness with tracing on and
  * writes the executions and job spans for `attribution_spec.py` to check.
  * Each planted "query" does one kind of work in its build phase; the
  * exec phase is the harness's own digest action.
  *
  * Usage: PlantedWork work=<dir> out=<file> cores=<n>
  */
object PlantedWork {
  type Plant = (SparkSession, String) => DataFrame

  val plants: Seq[(String, Plant)] = Seq(
    "plant_pin" -> ((s, _) => graft.util.Loops.pin(s.range(10).toDF("id"))),
    // 100 rows over a cap of 10: the capped collect, then the demotion to
    // a distributed checkpoint
    "plant_demote" -> ((s, _) => graft.util.Loops.pinWithCap(s.range(100).toDF("id"), 10)),
    "plant_checkpoint" -> ((s, _) => s.range(1000).toDF("id").localCheckpoint()),
    "plant_probe" -> { (s, _) =>
      val df = s.range(100).toDF("id")
      require(df.filter("id > 50").count() == 49)
      df
    },
    "plant_store" -> { (s, d) =>
      s.range(100).toDF("id").write.mode("overwrite").parquet(s"$d/plant_store")
      s.read.parquet(s"$d/plant_store")
    },
    // no job at build; the exec-phase digest runs an AQE shuffle whose
    // map-stage job is submitted from a pool thread
    "plant_aqe" -> ((s, _) =>
      s.range(0, 20000, 1, 8).groupBy(expr("id % 7").as("k")).count()),
  )

  /** Two of these run at once on two threads. */
  def concurrent(s: SparkSession): DataFrame =
    s.range(0, 5000, 1, 4).toDF("id").localCheckpoint()
      .groupBy(expr("id % 5").as("k")).count()

  def main(args: Array[String]): Unit = {
    val opt = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val work = new File(opt("work"))
    val spark = Harness.session(work, opt("cores").toInt)
    val tracer = new JobTracer
    spark.sparkContext.addSparkListener(tracer)
    tracer.enabled = true
    val data = new File(work, "data").getPath
    val serial = plants.zipWithIndex.map { case ((name, fn), i) =>
      Harness.executeFn(spark, data, name, fn, s"p1-$i", 1, 0, None)
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val both = Seq("plant_conc_a", "plant_conc_b").zipWithIndex.map { case (name, c) =>
      pool.submit(new java.util.concurrent.Callable[Execution] {
        def call(): Execution = Harness.executeFn(spark, data, name,
          (s, _) => concurrent(s), s"p2-$c", 2, c, None)
      })
    }.map(_.get())
    pool.shutdown()
    tracer.enabled = false
    org.apache.spark.ListenerDrain(spark.sparkContext)
    val json = Json.obj(
      "executions" -> Json.arr((serial ++ both).map(Harness.execJson)),
      "jobs" -> Json.arr(tracer.spans.map(Harness.jobJson)))
    spark.stop()
    Files.writeString(Paths.get(opt("out")), json)
    System.exit(0)
  }
}
