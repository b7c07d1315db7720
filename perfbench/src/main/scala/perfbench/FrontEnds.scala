package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}

import graft.kdc.{KdcLogRecord, KdcMain, KdcQueries}
import graft.streaming.StreamingPipeline

/** Every KDC parse front-end over the same small generated inputs, each
  * writing its reports as TSV under `<run>/frontends/<input>/<front>/<report>`
  * for the benchmark's tests to compare with the generator's tallies.
  *
  * Inputs (`input=` names a directory holding them): `fleet` (plain
  * `host=…/day=…` tree), `archive` (bzip2 files) and `flat` (plain files
  * in one directory, for the streaming text readers). */
object FrontEnds {
  def run(ctx: Main.Ctx): Unit = {
    val spark = Main.session(ctx)
    val realm = Some(ctx.realm)
    def out(input: String, front: String, report: String) =
      ctx.path(s"frontends/$input/$front/$report")
    def write(df: DataFrame, dir: String): Unit =
      Main.attempt(ctx, dir)(KdcQueries.tsvLines(df).write.mode("overwrite").text(dir))

    val fleet = new File(ctx.input, "fleet/host=*/day=*/*").getAbsolutePath
    val archive = new File(ctx.input, "archive").getAbsolutePath
    val flat = new File(ctx.input, "flat").getAbsolutePath
    for ((name, path) <- Seq("fleet" -> fleet, "archive" -> archive)) {
      for ((front, ds) <- Main.frontEnds(spark, path, path);
           (report, df) <- Main.reportFrames(ds(), realm))
        write(df, out(name, front, report))
      // the CLI's own three paths, end to end
      for ((front, flags) <- Seq("main" -> Nil, "main-aligned" -> Seq("--aligned"),
                                 "main-v2" -> Seq("--v2"));
           report <- Main.Reports)
        Main.attempt(ctx, s"$name $front $report") {
          KdcMain.main(Array(path, out(name, front, report), ctx.realm,
            s"--report=$report") ++ flags)
        }
    }

    // streaming readers, one AvailableNow run each over the flat input
    val v2 = spark.readStream.format("kdclog").load(flat).as(Encoders.product[KdcLogRecord])
    write(StreamingPipeline.runOneShot(KdcQueries.userAuthStats(v2, realm),
      "perfbench_v2_user", "complete", Seq("client")), out("flat", "stream-v2", "user"))
    write(StreamingPipeline.runOneShot(KdcQueries.serviceUseStats(v2, realm),
      "perfbench_v2_service", "complete", Seq("service")), out("flat", "stream-v2", "service"))
    write(StreamingPipeline.runOneShot(
      StreamingPipeline.streamingServiceUseStats(spark, flat, realm),
      "perfbench_text_service", "complete", Seq("service")),
      out("flat", "stream-wholetext", "service"))
    write(StreamingPipeline.runOneShot(
      StreamingPipeline.streamingUserAuthCounts(spark, flat, realm),
      "perfbench_text_user", "complete", Seq("day", "client")),
      out("flat", "stream-lines", "user-days"))
    Main.stop(spark)
  }
}
