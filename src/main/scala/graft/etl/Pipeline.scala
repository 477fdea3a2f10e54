package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Extract

/** The reference pipeline (SURVEY §3) re-expressed Spark-first:
  * ingest→dedup (scraper.py:211-218), incremental discovery anti-join
  * (etl_process.py:297-301), 13-field clean projection (:203-224),
  * broadcast dim enrichment with inner-join/quarantine semantics
  * (:320-335), and the optional conform maintenance job (:227-241).
  *
  * Scale notes: dedup is one shuffle on uniq_id; enrichment broadcasts
  * the ≤479-row dim so the fact side never shuffles; quarantine is the
  * join's unmatched complement (durable, unlike the reference's
  * process-local `cannot_load` set); conform is two filters/semi-joins,
  * no wide ops. A batch that feeds both sinks goes through
  * [[enrichEnvelopes]]: the scan, the dedup shuffle and the HTML
  * extraction run once into one persisted frame that both sides read,
  * and the caller releases it per batch, so cached batches never pile
  * up across a long-running stream. Without it every sink action
  * re-runs the whole lineage, and the dedup's arbitrary pick of a
  * duplicate could differ between the two sinks.
  */
object Pipeline {

  /** The scraper's JSON envelope (scraper.py:97-100,205). */
  val rawAdSchema: StructType = StructType(Seq(
    StructField("scrape_date", StringType),
    StructField("code", IntegerType),
    StructField("url", StringType),
    StructField("read", StringType),
    StructField("uniq_id", StringType)))

  /** backpage_raw reader: one JSON envelope per line/row. */
  def parseRaw(envelopes: DataFrame, jsonCol: String = "value"): DataFrame =
    envelopes.select(from_json(col(jsonCol), rawAdSchema).as("ad"))
      .select("ad.*")

  /** Dedup-before-write replaces the reference's insert-and-catch on the
    * UNIQUE constraint: drop in-batch dups, then anti-join out rows whose
    * uniq_id already landed (idempotent re-ingest).
    */
  def dedupIngest(newRaw: DataFrame, existingRaw: Option[DataFrame]): DataFrame = {
    val deduped = newRaw.dropDuplicates("uniq_id")
    existingRaw match {
      case Some(ex) => deduped.join(ex.select("uniq_id"), Seq("uniq_id"), "left_anti")
      case None     => deduped
    }
  }

  /** Incremental discovery (etl_process.py:297-301): raw rows not yet in
    * the warehouse. The LIMIT is made deterministic (SURVEY §2.5): the
    * reference's heap-order LIMIT is nondeterministic.
    */
  def discover(raw: DataFrame, clean: DataFrame, batchSize: Int = 50): DataFrame =
    raw.join(clean.select("uniq_id"), Seq("uniq_id"), "left_anti")
      .orderBy("uniq_id").limit(batchSize)

  /** `clean_data` (etl_process.py:203-224): raw envelope → the 13-field
    * projection, one `select` of the §2.6 expression library. All fields
    * stay strings with the `""` failure sentinel, mirroring clean_line.
    */
  def cleanData(raw: DataFrame): DataFrame = {
    val html = col("read")
    raw.select(
      Extract.adId(col("url")).as("ad_id"),
      col("url").as("ad_url"),
      Extract.category(col("url")).as("category"),
      Extract.locations(html).as("locations"),
      array_join(array_sort(Extract.otherAdsHrefs(html)), ";").as("other_ads"),
      Extract.phoneNumber(Extract.postingBodyText(html)).as("phone"),
      Extract.postBody(html).as("post_body"),
      Extract.postDate(Extract.adInfoText(html)).as("post_date"),
      Extract.posterAge(html).as("poster_age"),
      Extract.postTitle(html).as("post_title"),
      col("scrape_date"),
      Extract.siteId(col("url")).as("site_id"),
      col("uniq_id"))
  }

  /** URLs.csv dimension (etl_process.py:185-200), normalized column
    * names; exact header `Backpage ID,City,State,Region,Division,URL`. */
  def siteDim(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").csv(path)
      .select(
        col("Backpage ID").as("site_id"), col("City").as("city"),
        col("State").as("state"), col("Region").as("region"),
        col("Division").as("division"))

  /** Enrichment result: warehouse rows + quarantined rows, and the
    * persisted frame both read when it came from [[enrichEnvelopes]]. */
  final case class Enriched(warehouse: DataFrame, quarantine: DataFrame,
                            materialized: Option[DataFrame] = None) {
    /** Drops the materialization; a no-op for a lazy [[enrich]] result. */
    def release(): Unit = materialized.foreach(_.unpersist())
  }

  /** Broadcast join on site_id (etl_process.py:320-323). The
    * reference's KeyError→bare-except (:332-335) silently drops unmatched
    * rows into an in-memory set; here the quarantine is the explicit
    * complement of the join — durable and auditable. Rows whose post_date
    * failed to parse also quarantine (the reference's '' → TIMESTAMP
    * insert failure lands in the same except).
    */
  def enrich(clean: DataFrame, dim: DataFrame): Enriched = split(classify(clean, dim))

  /** parse → in-batch dedup → clean → enrich over raw JSON envelopes,
    * with both sides reading ONE persisted frame (see the scale notes).
    * The caller must `release()` the result when its sinks are written,
    * also when one throws. */
  def enrichEnvelopes(envelopes: DataFrame, dim: DataFrame): Enriched = {
    val batch = classify(cleanData(parseRaw(envelopes).dropDuplicates("uniq_id")), dim).persist()
    split(batch).copy(materialized = Some(batch))
  }

  /** The clean rows with parsed timestamps and a `site` struct of dim
    * columns, left-joined only where post_date parsed: a NULL `site`
    * marks the quarantine, so a row there appears exactly once even if
    * the dim repeats its site_id. */
  private def classify(clean: DataFrame, dim: DataFrame): DataFrame = {
    val sites = dim.select(col("site_id").as("dim_site_id"),
      struct(col("city"), col("division"), col("region"), col("state")).as("site"))
    clean
      .withColumn("post_date_ts", try_to_timestamp(col("post_date"), lit("yyyy-MM-dd HH:mm:ss")))
      .withColumn("scrape_date_ts", try_to_timestamp(col("scrape_date"), lit("yyyy-MM-dd HH:mm:ss")))
      .join(broadcast(sites),
        col("site_id") === col("dim_site_id") && col("post_date_ts").isNotNull, "left")
      .drop("dim_site_id")
  }

  private def split(classified: DataFrame): Enriched = {
    val ok = classified.filter(col("site").isNotNull)
      .select(
        col("ad_id"), col("ad_url"), col("category"), col("site.city"),
        col("site.division"), col("locations"), col("other_ads"), col("phone"),
        col("post_body"), col("post_date_ts").as("post_date"),
        col("post_title"), col("poster_age"), col("site.region"),
        col("scrape_date_ts").as("scrape_date"), col("site_id"),
        col("site.state"), col("uniq_id"))
    val bad = classified.filter(col("site").isNull)
      .drop("post_date_ts", "scrape_date_ts", "site")
    Enriched(ok, bad)
  }

  /** One full micro-batch: discover → clean → enrich (etl_process.py loop
    * body :294-335). */
  def runBatch(raw: DataFrame, clean: DataFrame, dim: DataFrame,
               batchSize: Int = 50): Enriched =
    enrich(cleanData(discover(raw, clean, batchSize)), dim)

  /** `conform_dbs` (etl_process.py:227-241), as an optional maintenance
    * job (its invocation is commented out in the reference — SURVEY
    * §3.3): (1) drop warehouse rows posted before collection began
    * (scalar-subquery temporal filter); (2) keep only rows still present
    * in raw (left_semi ≡ the NOT-IN delete, keys NOT NULL).
    */
  def conform(warehouse: DataFrame, raw: DataFrame): DataFrame = {
    val minScrape = warehouse.agg(min(col("scrape_date")).as("min_scrape"))
    warehouse
      .join(broadcast(minScrape))
      .filter(col("post_date") >= col("min_scrape"))
      .drop("min_scrape")
      .join(raw.select("uniq_id"), Seq("uniq_id"), "left_semi")
  }
}
