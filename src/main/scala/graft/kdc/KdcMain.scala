package graft.kdc

import org.apache.spark.sql.SparkSession

/** CLI entry: raw Heimdal KDC logs → TSV reports, the Spark
  * re-expression of the reference's `UserTimeRunner` job
  * (`/root/reference/.../UserTimeRunner.java:34-48`; default output
  * `user \t firstts \t lastts \t count` per `UserTimeRec.java:128-130`,
  * with the corrected min/max semantics — SURVEY.md §2.4) plus the
  * reports the Perl pipelines produce from the same parse
  * (`perl/kdcmapper.pl` `u:`/`s:` branches,
  * `perl/kdcmapper-with-enctypes.pl` composite keys, README #6 error
  * histogram).
  *
  * Usage: KdcMain <input logs (file/dir/glob)> <output dir> [realm]
  *                [--recursive] [--scope=k=v[,k=v…]] [--report=R]
  *
  * Every report reads through the `kdclog` table
  * ([[graft.kdc.v2.KdcLogTableProvider]], the one KDC parse path):
  * split-aligned session parsing, including splittable bzip2, with the
  * realm argument's filter PUSHED into the parse scan, so
  * foreign-realm sessions are never materialized. The realm filter
  * sits BEFORE the counters observe node (Catalyst does not push
  * predicates through CollectMetrics), so with a realm the
  * `kdc_counters` observation counts in-scope sessions only.
  *
  * `--recursive` descends nested fleet layouts (host=…/day=… trees);
  * without it a nested dir fails loudly, like Hadoop input formats.
  *
  * `--scope=k=v[,k=v…]` scopes the report to the named partition-path
  * values of a `k=v` fleet layout (e.g. `--scope=day=2015-11-22`):
  * each pair becomes an equality filter on the layout-discovered
  * partition column, which the planner evaluates DRIVER-SIDE during
  * split planning — out-of-scope FILES are never opened (a day-scoped
  * report over a year of logs reads 1/365th of the bytes). A key the
  * layout does not expose fails loudly at analysis. Scope values are
  * RAW path-segment strings: they compare byte-for-byte against the
  * directory segment (no URL-decoding or unescaping on either side — a
  * percent-encoded layout is scoped with the encoded form), and a
  * value containing a comma, the pair separator, cannot be expressed
  * — use a path glob for such layouts
  * ([[graft.kdc.v2.KdcFileLayout.parseScope]]).
  *
  * `--report=R` with R ∈ user (default) | service | errors |
  * user-enctypes | service-enctypes.
  *
  * `--aligned` and `--v2` are accepted, for existing invocations, and
  * read the same way. Any other `--flag` fails with the usage message.
  */
object KdcMain {

  /** The report frame [[main]] writes, factored out so specs can pin
    * the executed plan (pushed filters). The realm scopes the
    * dimension the report aggregates — client realm for user reports,
    * service realm for service reports, nothing for the error
    * histogram — matching [[KdcQueries.successfulAuths]]/
    * [[KdcQueries.serviceUses]]; the report functions re-apply the
    * same predicate (idempotent). */
  def buildReport(spark: SparkSession, in: String, realm: Option[String],
                  report: String, recursive: Boolean = false,
                  scope: Map[String, String] = Map.empty)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    val realmPred = realm.flatMap(r => report match {
      case "user" | "user-enctypes" => Some(col("crealm") === r)
      case "service" | "service-enctypes" => Some(col("srealm") === r)
      case _ => None // errors report is unscoped, like the reference's
    })
    val df = spark.read.format("kdclog")
      .option("recursive", recursive.toString).load(in)
    // scope filters reference layout-discovered partition columns
    // only, so the planner resolves them to whole-FILE pruning at
    // split planning (an unknown key fails analysis loudly)
    val scoped = scope.foldLeft(df) { case (acc, (k, v)) =>
      acc.filter(col(k) === v)
    }
    val source = realmPred.fold(scoped)(scoped.filter)
      .as(org.apache.spark.sql.Encoders.product[KdcLogRecord])
    val recs = KdcQueries.withCounters(source)
    report match {
      case "user" =>
        KdcQueries.userAuthStats(recs, realm)
          .select("client", "first_ts", "last_ts", "n_auth")
      case "service" =>
        KdcQueries.serviceUseStats(recs, realm)
          .select("service", "first_ts", "last_ts", "n_req")
      case "errors" =>
        KdcQueries.commonErrors(recs)
      case "user-enctypes" =>
        KdcQueries.userEnctypeStats(recs, realm)
          .select("client", "enctype", "n_auth", "first_ts", "last_ts")
      case "service-enctypes" =>
        KdcQueries.serviceEnctypeStats(recs, realm)
          .select("service", "enctype_key", "n_req", "first_ts", "last_ts")
      case other =>
        throw new IllegalArgumentException(s"unknown --report=$other")
    }
  }

  private val Usage =
    "usage: KdcMain <input> <outdir> [realm] [--recursive] [--scope=k=v[,k=v…]] " +
      "[--report=user|service|errors|user-enctypes|service-enctypes]\n" +
      "(--aligned and --v2 are accepted and read the same way; with a realm " +
      "the counters count in-scope sessions only)"

  private def valueFlag(flags: Array[String], name: String): Option[String] =
    flags.collectFirst { case f if f.startsWith(s"--$name=") => f.stripPrefix(s"--$name=") }

  def main(args: Array[String]): Unit = {
    val (flags, positional) = args.partition(_.startsWith("--"))
    val unknown = flags.filterNot(f => Set("--aligned", "--v2", "--recursive")(f) ||
      f.startsWith("--report=") || f.startsWith("--scope="))
    require(unknown.isEmpty, s"unknown flag ${unknown.mkString(" ")}\n$Usage")
    require(positional.length >= 2, Usage)
    val report = valueFlag(flags, "report").getOrElse("user")
    val scope = valueFlag(flags, "scope")
      .map(graft.kdc.v2.KdcFileLayout.parseScope).getOrElse(Map.empty[String, String])
    val Array(in, out) = positional.take(2)
    val realm = positional.lift(2)
    // only stop the session on exit if this invocation created it —
    // callers embedding main() in an existing session keep theirs
    val preExisting = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession).isDefined
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[4]"))
      .appName(s"kdc-$report")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val result = buildReport(spark, in, realm, report,
      recursive = flags.contains("--recursive"), scope = scope)
    // TSV via the shared formatting expression (oracle-checked through
    // kdc_parse_user_report_tsv) rather than the CSV writer — the
    // reference's reducers emit plain join("\t") lines with no quoting
    KdcQueries.tsvLines(result).write.mode("overwrite").text(out)
    if (!preExisting) spark.stop()
  }
}
