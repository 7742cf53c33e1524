package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One benchmark run in a fresh JVM: build the session the way
  * `graft.Bench` builds it, warm it the same way, run one workload as
  * a single-client closed loop, and write the raw record
  * (`<out>/raw.json`) that `perfbench/run.py` turns into metrics.
  *
  * Usage: graftbench.Main --workload <gene_etl|neardup_shuffle|index_serve>
  *   --data <dir> --out <dir> --seconds <s> --trace <0|1> --seed <n>
  *   --cores <n>
  * (a pass runs every catalog op once or, on index_serve, builds the
  * index and serves one block of requests)
  */
object Main {

  /** Peak resident set (VmHWM) of this process in MiB, -1 if unknown. */
  def peakRssMb(): Double =
    try {
      val line = scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).getOrElse("")
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case _: Throwable => -1.0 }

  private def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def get(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    val trace = get("trace") == "1"
    Args(
      workload = get("workload"), data = get("data"), out = get("out"),
      seconds = get("seconds").toDouble, trace = trace,
      seed = get("seed").toLong, cores = get("cores").toInt,
      // a traced run needs one untraced and one traced warm pass
      minWarm = if (trace) 2 else 1)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val work = Paths.get(a.out).toAbsolutePath
    Files.createDirectories(work)
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.cleaner.periodicGC.interval", "60s")
      .config("spark.ui.enabled", "false")
      // keep every scratch file inside the run directory
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // the same warm-up graft.Bench runs before its first measured query
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.range(100).groupBy(org.apache.spark.sql.functions.col("id") % 7)
      .count().collect()

    val probe = if (a.trace) {
      val p = new Probe(spark)
      p.install()
      Some(p)
    } else None
    val rec = new Recorder(spark, probe)
    val extra = a.workload match {
      case "gene_etl" => CatalogWorkload.run(spark, rec, a, CatalogWorkload.geneEtl)
      case "neardup_shuffle" => CatalogWorkload.run(spark, rec, a, CatalogWorkload.nearDup)
      case "index_serve" => IndexServe.run(spark, rec, a)
      case other => sys.error(s"unknown workload $other")
    }
    rec.finish()
    val raw = Map(
      "workload" -> a.workload, "seed" -> a.seed, "cores" -> a.cores,
      "trace" -> a.trace, "seconds" -> a.seconds,
      "setup_s" -> (rec.firstOpMs - jvmStartMs) / 1e3,
      "ops" -> rec.ops.map(_.toMap), "spans" -> rec.spans.map(_.toMap)) ++ extra
    Files.writeString(work.resolve("raw.json"),
      new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(raw))
    spark.stop()
  }
}
