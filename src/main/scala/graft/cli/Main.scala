package graft.cli

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.core.Sessions
import graft.etl.Pipeline
import graft.sources.Ingest

/** CLI mirroring the reference's `frontpage` console script
  * (cli.py:5-16): `ingest` drives the scraper connector, `etl` runs the
  * batch pipeline, `query` runs one declared inventory query, `conform`
  * runs the maintenance job.
  *
  * Usage:
  *   graft.cli.Main ingest <cities.txt> <categories.txt> <fixtureDir> <outDir> [scrapeDate]
  *   graft.cli.Main etl <raw.jsonl> <site_dim.csv> <outDir>
  *   graft.cli.Main etl-stream <rawDir> <site_dim.csv> <outDir>
  *   graft.cli.Main query <name> <sfDir>
  *   graft.cli.Main query --prepare <sfDir>
  *   graft.cli.Main conform <warehouseParquet> <raw.jsonl> <outDir>
  *
  * `ingest` uses [[Ingest.FileStubFetcher]] over `fixtureDir` — the
  * pagination/sentinel/envelope logic is the real connector; a
  * production [[Ingest.PageFetcher]] slots in without CLI changes.
  */
object Main {

  private val usage =
    """usage: ingest <cities.txt> <categories.txt> <fixtureDir> <outDir> [scrapeDate]
      |       etl <raw.jsonl> <site_dim.csv> <outDir> [--jdbc-url U [--jdbc-table T]]
      |       etl-stream <rawDir> <site_dim.csv> <outDir> [--batch-size N] [--poll-seconds N]
      |       query <name> <sfDir>
      |       query --prepare <sfDir>
      |       conform <warehouseParquet> <raw.jsonl> <outDir>""".stripMargin

  /** `--key value` flags after the positionals — the reference's
    * `--batch_size` / `--sleep_time` knobs (etl_process.py:247-248)
    * mapped to the streaming trigger. Unknown flags throw with usage. */
  private def parseFlags(rest: List[String],
                         allowed: Set[String]): (Map[String, String], List[String]) =
    rest match {
      case k :: v :: t if k.startsWith("--") =>
        val key = k.drop(2)
        if (!allowed(key))
          throw new IllegalArgumentException(s"unknown flag $k\n$usage")
        val (flags, pos) = parseFlags(t, allowed)
        (flags + (key -> v), pos)
      case k :: Nil if k.startsWith("--") =>
        throw new IllegalArgumentException(s"flag $k needs a value\n$usage")
      case a :: t =>
        val (flags, pos) = parseFlags(t, allowed)
        (flags, a :: pos)
      case Nil => (Map.empty, Nil)
    }

  /** Dispatch one subcommand on a caller-owned session (testable: does
    * not stop the session or exit the JVM — bad args throw). */
  def run(args: List[String], spark: SparkSession): Unit = args match {
    case "ingest" :: citiesPath :: categoriesPath :: fixtureDir :: outDir :: rest
        if rest.length <= 1 =>
      // frontpage scraper (cli.py:5-16, scraper.py:159-218): frontier ×
      // paginated listing walk × per-ad fetch → raw JSON-line envelopes,
      // the exact input `etl` / `etl-stream` consume.
      val scrapeDate = rest.headOption.getOrElse(
        java.time.LocalDateTime.now(java.time.ZoneOffset.UTC)
          .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")))
      val fetcher = Ingest.FileStubFetcher(fixtureDir)
      val f = Ingest.frontier(
        Ingest.params(spark, citiesPath, "city"),
        Ingest.params(spark, categoriesPath, "category"))
      val raw = Ingest.toRawJson(
        Ingest.fetchAds(Ingest.scanListings(f, fetcher), fetcher, scrapeDate))
      raw.write.mode("overwrite").text(s"$outDir/raw")
      println(s"ingest: ads=${spark.read.text(s"$outDir/raw").count()}")

    case "etl" :: rest0 =>
      val (flags, rest) = parseFlags(rest0, Set("jdbc-url", "jdbc-table"))
      rest match {
        case rawPath :: dimPath :: outDir :: Nil =>
          val res = Pipeline.enrichEnvelopes(spark.read.text(rawPath), Pipeline.siteDim(spark, dimPath))
          try {
            val whCount = flags.get("jdbc-url") match {
              case Some(url) =>
                // the reference's actual storage layer (etl_process.py:271-289):
                // dedup-append into the JDBC warehouse instead of parquet.
                // Probe existence FIRST, via connection metadata — a
                // read-and-catch probe would classify a transient
                // connection/auth failure as 'table absent' and fall
                // through to a destructive overwrite; here connection
                // errors propagate and only a genuine metadata miss
                // selects the create path.
                val table = flags.getOrElse("jdbc-table", "warehouse")
                val exists = {
                  val conn = java.sql.DriverManager.getConnection(url)
                  try {
                    val md = conn.getMetaData
                    // getTables takes a SEARCH PATTERN: a literal '_'/'%'
                    // in the table name would act as a wildcard and a
                    // same-named table elsewhere could false-positive the
                    // probe — escape with the driver's own escape string
                    val esc = md.getSearchStringEscape
                    def quote(name: String) =
                      name.replace(esc, esc + esc)
                        .replace("_", esc + "_").replace("%", esc + "%")
                    // scope to the connection's current schema (null →
                    // any-schema wildcard), so the probe targets the same
                    // table the unqualified read/write path resolves
                    val schema = Option(conn.getSchema).map(quote).orNull
                    def probe(name: String) = {
                      val rs = md.getTables(null, schema, quote(name), null)
                      try rs.next() finally rs.close()
                    }
                    // unquoted DDL folds case DB-specifically (Derby/H2 up,
                    // Postgres down) — probe stored-case candidates
                    probe(table) || probe(table.toUpperCase) || probe(table.toLowerCase)
                  } finally conn.close()
                }
                if (exists)
                  graft.sources.JdbcWarehouse.appendDedup(res.warehouse, url, table, "uniq_id")
                else graft.sources.JdbcWarehouse.write(res.warehouse, url, table)
                graft.sources.JdbcWarehouse.read(spark, url, table).count()
              case None =>
                // (state, post_month)-partitioned layout via the one shared
                // writer (SURVEY §2.1 warehouse-sink mapping): geography
                // predicates prune whole directories at scale, and the month
                // key keeps the batch and streaming paths layout-identical
                // so either can append later
                graft.streaming.EtlStream.warehouseOverwrite(res.warehouse, s"$outDir/warehouse")
                spark.read.parquet(s"$outDir/warehouse").count()
            }
            res.quarantine.write.mode("overwrite").parquet(s"$outDir/quarantine")
            println(s"etl: warehouse=$whCount " +
              s"quarantine=${spark.read.parquet(s"$outDir/quarantine").count()}")
          } finally res.release()
        case _ => throw new IllegalArgumentException(usage)
      }

    // build-once/probe-many split (the 100 TB operational story: index
    // builds are a scheduled offline job, queries serve from the built
    // artifacts): `query --prepare <sfDir>` forces every per-dir stored
    // artifact, so stored-probe queries issued on the SAME session
    // afterwards (run() is session-reusable) pay probe cost only.
    case "query" :: "--prepare" :: sfDir :: Nil =>
      graft.queries.Extensions.prepareStores(spark, sfDir).foreach {
        case (name, path) => println(s"prepared: $name -> $path")
      }

    case "query" :: name :: sfDir :: Nil =>
      SparkEntry.queries.get(name) match {
        case Some(fn) => fn(spark, sfDir).show(20, false)
        case None => throw new IllegalArgumentException(
          s"unknown query '$name'; available: " +
            SparkEntry.queries.keys.toSeq.sorted.mkString(", "))
      }

    case "etl-stream" :: rest =>
      parseFlags(rest, Set("batch-size", "poll-seconds")) match {
        case (flags, rawDir :: dimPath :: outDir :: Nil) =>
          graft.streaming.EtlStream.run(spark, rawDir, dimPath,
            s"$outDir/warehouse", s"$outDir/quarantine", s"$outDir/checkpoint",
            maxFilesPerTrigger = flags.getOrElse("batch-size", "50").toInt,
            pollSeconds = flags.getOrElse("poll-seconds", "600").toInt)
          println(s"etl-stream: warehouse=${spark.read.parquet(s"$outDir/warehouse").count()}")
        case _ => throw new IllegalArgumentException(usage)
      }

    case "conform" :: warehousePath :: rawPath :: outDir :: Nil =>
      val wh = spark.read.parquet(warehousePath)
      val raw = Pipeline.parseRaw(spark.read.text(rawPath))
      val kept = Pipeline.conform(wh, raw)
      kept.write.mode("overwrite").parquet(s"$outDir/warehouse_conformed")
      println(s"conform: kept=${spark.read.parquet(s"$outDir/warehouse_conformed").count()}")

    case _ => throw new IllegalArgumentException(usage)
  }

  def main(args: Array[String]): Unit = {
    val spark = Sessions.local()
    try run(args.toList, spark)
    catch {
      case e: IllegalArgumentException =>
        System.err.println(e.getMessage)
        spark.stop()
        sys.exit(2)
    }
    spark.stop()
  }
}
