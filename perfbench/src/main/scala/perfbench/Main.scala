package perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession

/** Entry point: `--workload W --seed N --seconds S --trace 0|1 --work DIR
  * --data DIR [--cores C]`. Prints notes, then writes `result.json` (and
  * `trace.jsonl` when traced) into the work directory. */
object Main {
  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    val tracer = new Tracer(o.trace, SparkSession.active.sparkContext)
    val r = o.workload match {
      case "cdc_ingest" => Ingest.run(o, tracer)
      case "dedup_batch" => Batch.run(o, tracer)
      case w => sys.error(s"unknown workload $w")
    }
    r.notes.foreach(n => println(s"  $n"))
    tracer.write(o.work.resolve("trace.jsonl"))
    val layer = r.layer + ("trace.spans" -> tracer.all.size.toDouble)
    Files.write(o.work.resolve("result.json"),
      Harness.json(r.copy(layer = layer)).getBytes("UTF-8"))
    SparkSession.getActiveSession.foreach(_.stop())
  }
}
