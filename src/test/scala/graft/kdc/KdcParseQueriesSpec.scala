package graft.kdc

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Pins the driver-checked kdc_parse_* entries to their hand-computed
  * expected outputs (the same values the VALUES oracles assert), so a
  * fixture or sessionizer regression fails here before the driver gate.
  */
class KdcParseQueriesSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    // the streaming golden rows bucket by day in the SESSION timezone
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("kdc_parse_user_stats matches hand-computed golden rows") {
    val got = KdcParseQueries.userStats(spark, "").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      ("alice", "2015-11-22T17:00:00", "2015-11-23T07:00:00", 2L),
      ("cg2v", "2015-11-22T15:25:20", "2015-11-22T16:10:00", 2L),
      ("plain", "2015-11-23T08:00:00", "2015-11-23T08:00:00", 1L),
      ("visitor", "2015-11-23T09:00:00", "2015-11-23T09:00:00", 1L)))
  }

  test("realm scoping excludes the foreign-realm success") {
    val scoped = KdcParseQueries.userStatsScoped(spark, "").collect()
      .map(_.getString(0))
    assert(!scoped.contains("visitor") && scoped.toSeq == Seq("alice", "cg2v", "plain"))
  }

  test("kdc_parse_service_stats (256-byte aligned splits) matches golden") {
    val got = KdcParseQueries.serviceStats(spark, "").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      ("cifs/share.example.org", "2015-11-22T19:40:00", "2015-11-22T19:40:00", 1L),
      ("host/www.example.org", "2015-11-22T19:00:00", "2015-11-22T19:05:00", 2L),
      ("imap/mail.example.org", "2015-11-22T19:10:00", "2015-11-22T19:10:00", 1L)))
  }

  test("kdc_parse_errors covers all six classes plus MISSING_PREAUTH") {
    val got = KdcParseQueries.errorStats(spark, "").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq == Seq(
      "BAD_AUTHENTICATION", "BAD_NAME", "BAD_PARAMETERS", "BAD_PASSWORD",
      "MISSING_PREAUTH", "UNKNOWN", "UNUSABLE_NAME").map(_ -> 1L))
  }

  test("streaming user auth counts match golden, twice (rerun safety)") {
    def run() = KdcParseQueries.userStatsStreaming(spark, "").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val expected = Seq(
      ("2015-11-22", "alice", 1L), ("2015-11-22", "cg2v", 2L),
      ("2015-11-23", "alice", 1L), ("2015-11-23", "plain", 1L),
      ("2015-11-23", "visitor", 1L))
    assert(run().toSeq == expected)
    // Bench times every query twice; the memory-sink query name must
    // be reusable after the first run terminates
    assert(run().toSeq == expected)
  }

  test("streaming TGS service stats converge to the batch answer, twice") {
    def run() = KdcParseQueries.serviceStatsStreaming(spark, "").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3)))
    val batch = KdcParseQueries.serviceStats(spark, "").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(run().toSeq == batch.toSeq)
    assert(run().toSeq == batch.toSeq) // memory sink reusable (Bench runs twice)
  }

  test("KdcMain --report modes emit the expected TSVs") {
    val dir = KdcParseQueries.fixtureDir()
    def run(report: String): Seq[String] = {
      val out = s"target/scratch/kdcmain_$report"
      KdcMain.main(Array(dir, out, s"--report=$report"))
      val files = new java.io.File(out).listFiles()
        .filter(_.getName.startsWith("part-"))
      files.flatMap(f =>
        scala.io.Source.fromFile(f).getLines()).toSeq.sorted
    }
    assert(run("service") == Seq(
      "cifs/share.example.org\t2015-11-22T19:40:00\t2015-11-22T19:40:00\t1",
      "host/www.example.org\t2015-11-22T19:00:00\t2015-11-22T19:05:00\t2",
      "imap/mail.example.org\t2015-11-22T19:10:00\t2015-11-22T19:10:00\t1"))
    assert(run("errors").map(_.split("\t")(0)).toSet == Set(
      "BAD_AUTHENTICATION", "BAD_NAME", "BAD_PARAMETERS", "BAD_PASSWORD",
      "MISSING_PREAUTH", "UNKNOWN", "UNUSABLE_NAME"))
    assert(run("user-enctypes").exists(_.startsWith("plain\tUNK\t1")))
    // --v2 is an accepted spelling of the one read path; the realm is
    // pushed into the parse: the foreign-realm visitor must drop,
    // everything else bit-identical to the scoped oracle
    val outV2 = "target/scratch/kdcmain_user_v2"
    KdcMain.main(Array(dir, outV2, "SQUILL.DEMENTIA.ORG", "--v2"))
    val v2Lines = new java.io.File(outV2).listFiles()
      .filter(_.getName.startsWith("part-"))
      .flatMap(f => scala.io.Source.fromFile(f).getLines()).toSeq.sorted
    assert(v2Lines == Seq(
      "alice\t2015-11-22T17:00:00\t2015-11-23T07:00:00\t2",
      "cg2v\t2015-11-22T15:25:20\t2015-11-22T16:10:00\t2",
      "plain\t2015-11-23T08:00:00\t2015-11-23T08:00:00\t1"))
  }

  test("256-byte splits agree with the in-memory fold on the fixture") {
    val dir = KdcParseQueries.fixtureDir()
    val a = KdcSource.recordsAligned(spark, dir, Some(256L)).collect().toSet
    val b = Seq(KdcParseQueries.host1Log, KdcParseQueries.host2Log)
      .flatMap(log => KdcSource.fromLines(spark, log.linesIterator.toSeq).collect()).toSet
    // 10 AS sessions (host1, incl. the foreign-realm visitor) + 8 TGS
    // sessions (host2; trailing partial dropped), all field-distinct → 18.
    assert(a == b && a.size == 18)
  }

  test("KdcMain rejects an unknown flag with the usage message") {
    val dir = KdcParseQueries.fixtureDir()
    val out = "target/scratch/kdcmain_typo"
    val e = intercept[IllegalArgumentException] {
      KdcMain.main(Array(dir, out, "--reprot=service"))
    }
    assert(e.getMessage.contains("--reprot=service") && e.getMessage.contains("usage:"),
      e.getMessage)
    assert(!new java.io.File(out).exists(), "a rejected run must write nothing")
  }
}
