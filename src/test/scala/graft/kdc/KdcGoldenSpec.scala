package graft.kdc

import org.apache.spark.sql.{Observation, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end golden test (SURVEY.md §5 test plan #4): fixture log →
  * KdcSource → KdcQueries, compared against hand-computed expected
  * output in the reference's TSV shape (`UserTimeRec.java:128-130`,
  * corrected min/max), plus observe()-based counters. */
class KdcGoldenSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val log = Seq(
    // cg2v: one successful AS-REQ
    "2015-11-22T15:25:20 AS-REQ cg2v@SQUILL.DEMENTIA.ORG from IPv4:127.0.0.1 for krbtgt/SQUILL.DEMENTIA.ORG@SQUILL.DEMENTIA.ORG",
    "2015-11-22T15:25:20 ENC-TS Pre-authentication succeeded -- cg2v@SQUILL.DEMENTIA.ORG",
    "2015-11-22T15:25:20 sending 752 bytes to IPv4:127.0.0.1",
    // alice: success at 16:00, bad password at 17:00, success next day
    "2015-11-22T16:00:00 AS-REQ alice@SQUILL.DEMENTIA.ORG from IPv4:10.1.2.3 for krbtgt/SQUILL.DEMENTIA.ORG@SQUILL.DEMENTIA.ORG",
    "2015-11-22T16:00:00 ENC-TS Pre-authentication succeeded -- alice@SQUILL.DEMENTIA.ORG",
    "2015-11-22T16:00:00 sending 700 bytes to IPv4:10.1.2.3",
    "2015-11-22T17:00:00 AS-REQ alice@SQUILL.DEMENTIA.ORG from IPv4:10.1.2.3 for krbtgt/SQUILL.DEMENTIA.ORG@SQUILL.DEMENTIA.ORG",
    "2015-11-22T17:00:00 Failed to decrypt PA-DATA -- alice@SQUILL.DEMENTIA.ORG",
    "2015-11-22T17:00:00 sending 300 bytes to IPv4:10.1.2.3",
    "2015-11-23T08:00:00 AS-REQ alice@SQUILL.DEMENTIA.ORG from IPv4:10.1.2.3 for krbtgt/SQUILL.DEMENTIA.ORG@SQUILL.DEMENTIA.ORG",
    "2015-11-23T08:00:00 ENC-TS Pre-authentication succeeded -- alice@SQUILL.DEMENTIA.ORG",
    "2015-11-23T08:00:00 sending 700 bytes to IPv4:10.1.2.3",
    // bob: TGS only (not an auth), with referral
    "2015-11-22T18:00:00 TGS-REQ bob@SQUILL.DEMENTIA.ORG from IPv4:10.9.9.9 for host/www.example.org@SQUILL.DEMENTIA.ORG",
    "2015-11-22T18:00:00 sending 900 bytes to IPv4:10.9.9.9",
    "2015-11-22T18:01:00 TGS-REQ bob@SQUILL.DEMENTIA.ORG from IPv4:10.9.9.9 for host/other.example.org@SQUILL.DEMENTIA.ORG",
    "2015-11-22T18:01:00 Returning a referral to realm OTHER.ORG",
    "2015-11-22T18:01:00 sending 100 bytes to IPv4:10.9.9.9")

  /** Golden output: user \t first \t last \t count (Java job TSV shape,
    * min/max per the Perl reducer — SURVEY.md §2.4 ruling). */
  private val goldenUserTsv = Seq(
    "alice\t2015-11-22T16:00:00\t2015-11-23T08:00:00\t2",
    "cg2v\t2015-11-22T15:25:20\t2015-11-22T15:25:20\t1")

  test("user auth stats match the golden TSV") {
    val recs = KdcSource.fromLines(spark, log)
    val got = KdcQueries.userAuthStats(recs).collect()
      .map(r => s"${r.getString(0)}\t${r.getString(1)}\t${r.getString(2)}\t${r.getLong(3)}")
    assert(got.toSeq == goldenUserTsv)
  }

  test("service use stats count only confirmed non-referral TGS") {
    val got = KdcQueries.serviceUseStats(KdcSource.fromLines(spark, log))
      .collect().map(r => (r.getString(0), r.getLong(3)))
    assert(got.toSeq == Seq(("host/www.example.org", 1L)))
  }

  test("common errors bucket failures incl. MISSING_PREAUTH default") {
    val extra = Seq(
      header("2015-11-23T09:00:00"),
      "2015-11-23T09:00:00 sending 1 bytes to IPv4:10.0.0.1") // AS, no preauth
    val got = KdcQueries.commonErrors(KdcSource.fromLines(spark, log ++ extra))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got == Map("BAD_PASSWORD" -> 1L, "MISSING_PREAUTH" -> 1L))
  }

  private def header(ts: String) =
    s"$ts AS-REQ nopre@SQUILL.DEMENTIA.ORG from IPv4:10.0.0.1 for krbtgt/S@S"

  test("observe counters report per-action metrics") {
    val obs = new Observation("kdc_golden")
    val recs = KdcQueries.withCounters(KdcSource.fromLines(spark, log), obs)
    recs.write.format("noop").mode("overwrite").save()
    val m = obs.get
    assert(m("records") == 6L)
    assert(m("invalid") == 0L)
    assert(m("referrals") == 1L)
    assert(m("errorsfound") == 1L)
    assert(m("badpassword") == 1L)
  }

  test("custom record delimiter is a one-option built-in (SURVEY S5)") {
    // The reference vendors a 500-LoC CustomLineReader for
    // textinputformat.record.delimiter; Spark's text source does it
    // with option("lineSep", …) — including CRLF normalization.
    val dir = "target/scratch/delim"
    new java.io.File(dir).mkdirs()
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/recs.txt"),
      "rec one%%rec two%%rec three".getBytes)
    val recs = spark.read.option("lineSep", "%%").text(s"$dir/recs.txt")
      .collect().map(_.getString(0))
    assert(recs.toSeq == Seq("rec one", "rec two", "rec three"))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/crlf.log"),
      "a\r\nb\r\nc".getBytes)
    assert(spark.read.text(s"$dir/crlf.log").count() == 3)
  }

  test("KdcSource.records agrees with fromLines per file") {
    val dir = "target/scratch/goldenlogs"
    new java.io.File(dir).mkdirs()
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/a.log"),
      log.take(12).mkString("\n").getBytes)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/b.log"),
      log.drop(12).mkString("\n").getBytes)
    val viaFiles = KdcSource.records(spark, dir).collect().toSet
    val viaLines = KdcSource.fromLines(spark, log.take(12)).collect().toSet ++
      KdcSource.fromLines(spark, log.drop(12)).collect().toSet
    assert(viaFiles == viaLines)
  }
}
