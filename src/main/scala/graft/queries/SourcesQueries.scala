package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.GF
import graft.model.Frequency
import graft.operators.TimeSeriesOps
import graft.sources.{CatalogReader, CellGrid}
import OracleSql.scrapeLongSql

/** Queries over the reference ETL's sources: distribution method
  * classification ([[graft.sources.CatalogReader]]) and scraping a
  * spreadsheet grid by cell coordinates ([[graft.sources.CellGrid]]). */
private[graft] object SourcesQueries extends Queries {

  private def cell(colIdx: Int, row: Int): String =
    s"${('A' + colIdx - 1).toChar}$row"

  /** Composed-time fixture: 20 year blocks of 5 rows each — a year
    * marker row ("2000"...) followed by 4 quarter rows ("I".."IV") with
    * values only on quarter rows. */
  private def composedFixtureGrid(t: Tables): DataFrame = {
    val e = t.events.filter(col("event_id") < 100)
    val hdr = t.events.filter(col("event_id") < 2).select(
      lit("comp").as("sheet"), lit(1).as("row"),
      (col("event_id") + 1).cast("int").as("col"),
      when(col("event_id") === 0, lit("indice_tiempo"))
        .otherwise(lit("v2")).as("value"))
    val w = col("event_id") % 5
    val timeCells = e.select(lit("comp").as("sheet"),
      (col("event_id") + 2).cast("int").as("row"), lit(1).as("col"),
      when(w === 0,
        (floor(col("event_id") / 5) + 2000).cast("int").cast("string"))
        .otherwise(element_at(
          array(lit("I"), lit("II"), lit("III"), lit("IV")),
          w.cast("int"))).as("value"))
    val valueCells = e.filter(w =!= 0).select(lit("comp").as("sheet"),
      (col("event_id") + 2).cast("int").as("row"), lit(2).as("col"),
      col("value").cast("decimal(12,2)").cast("string").as("value"))
    hdr.union(timeCells).union(valueCells)
  }

  private def scrapeFixtureGrid(t: Tables): DataFrame = {
    val e = t.events.filter(col("event_id") < 1000)
    val headers = t.events.filter(col("event_id") < 6)
      .select(lit("hoja").as("sheet"), lit(1).as("row"),
        (col("event_id") + 1).cast("int").as("col"),
        when(col("event_id") === 0, lit("indice_tiempo"))
          .otherwise(concat(lit("s"), (col("event_id") + 1).cast("string")))
          .as("value"))
    val data = e.select(
      lit("hoja").as("sheet"),
      (col("event_id") % 200 + 2).cast("int").as("row"),
      (floor(col("event_id") / 200) + 1).cast("int").as("col"),
      col("event_id"), col("value"))
    val tokens = GF.MissingTokens.map(lit(_))
    val body = data.withColumn("value",
      when(col("col") === 1,
        concat(lit("20"),
          lpad(floor((col("row") - 2) / 12).cast("int").cast("string"), 2, "0"),
          lit("-"), lpad(((col("row") - 2) % 12 + 1).cast("string"), 2, "0")))
        .when(col("event_id") % 13 === 0,
          element_at(array(tokens: _*), (col("event_id") % 19 + 1).cast("int")))
        .otherwise(col("value").cast("decimal(12,2)").cast("string")))
      .select(col("sheet"), col("row"), col("col"), col("value"))
    headers.union(body)
  }

  /** P5/F2 — method classification of a distribution manifest
    * (CatalogReader.withMethod; reference base.py:123-153). */
  private def qMethodClassify(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val manifest = t.documents.select(
      col("doc_id"),
      when(col("doc_id") % 5 === 0,
        concat(lit("http://x/"), col("source"), lit(".csv")))
        .as("downloadURL"),
      concat(lit("http://y/"), col("source"), lit("."),
        element_at(array(lit("txt"), lit("TXT"), lit("xlsx"), lit("XLS"),
          lit("zip")), (col("doc_id") % 5 + 1).cast("int")))
        .as("scrapingFileURL"))
    CatalogReader.withMethod(manifest)
      .groupBy(col("method")).agg(count(lit(1)).as("n"))
      .orderBy(col("method"))
  }
  register(Q("q03_method_classify", qMethodClassify,
      """WITH manifest AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0 THEN 'http://x/' || source || '.csv' END AS downloadURL,
        |    'http://y/' || source || '.' ||
        |      (['txt','TXT','xlsx','XLS','zip'])[CAST(doc_id % 5 + 1 AS INT)] AS scrapingFileURL
        |  FROM documents),
        |m AS (
        |  SELECT CASE
        |    WHEN downloadURL IS NOT NULL THEN 'csv_file'
        |    WHEN lower(list_extract(string_split(scrapingFileURL, '.'), -1)) = 'txt' THEN 'text_file'
        |    WHEN lower(list_extract(string_split(scrapingFileURL, '.'), -1)) IN ('xls','xlsx') THEN 'excel_file'
        |    END AS method
        |  FROM manifest)
        |SELECT method, count(*) AS n FROM m GROUP BY method ORDER BY method""".stripMargin))

  /** S7/T1/J1 — coordinate scrape of a synthesized cell grid
    * (CellGrid.scrapeDistribution): time labels in column A, five value
    * series in columns B..F, missing tokens sprinkled in. */
  private def qScrapeGrid(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val grid = scrapeFixtureGrid(t)
    val series = (2 to 6).map(c =>
      CellGrid.SeriesSpec(s"s$c", cell(c, 1), cell(c, 2)))
    CellGrid.scrapeDistribution(grid, "hoja", "A1", "A2",
        Frequency.Monthly, series)
      .orderBy(col("serie_id"), col("indice_tiempo"))
  }
  register(Q("q22_scrape_grid", qScrapeGrid,
      (scrapeLongSql + "\nORDER BY serie_id, indice_tiempo")))

  /** J1 — wide alignment of the scraped long form (pivot on serie_id). */
  private def qScrapeWide(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val grid = scrapeFixtureGrid(t)
    val series = (2 to 6).map(c =>
      CellGrid.SeriesSpec(s"s$c", cell(c, 1), cell(c, 2)))
    val long = CellGrid.scrapeDistribution(grid, "hoja", "A1", "A2",
      Frequency.Monthly, series)
    TimeSeriesOps.alignWide(long, (2 to 6).map(c => s"s$c"))
  }
  register(Q("q23_scrape_wide", qScrapeWide,
      s"""WITH long_form AS ($scrapeLongSql)
         |SELECT indice_tiempo,
         |  max(CASE WHEN serie_id = 's2' THEN valor END) AS s2,
         |  max(CASE WHEN serie_id = 's3' THEN valor END) AS s3,
         |  max(CASE WHEN serie_id = 's4' THEN valor END) AS s4,
         |  max(CASE WHEN serie_id = 's5' THEN valor END) AS s5,
         |  max(CASE WHEN serie_id = 's6' THEN valor END) AS s6
         |FROM long_form GROUP BY indice_tiempo ORDER BY indice_tiempo""".stripMargin))

  /** A deterministic "workbook" grid built from the events table:
    * 200 data rows; col 1 = "YYYY-MM" month labels (T1 composed parse),
    * cols 2..6 = decimal strings with the reference's missing tokens
    * (F6) every 13th cell. Header row 1 carries serie ids. */
  /** T1 multi-cell composed time: year markers written once per block in
    * the time column, roman quarter labels on the data rows — the
    * xlseries `time_composed=True` layout (reference
    * processors.py:211-221). The scrape forward-fills the year and
    * composes it with the period label. */
  private def qComposedTime(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val grid = composedFixtureGrid(t)
    CellGrid.scrapeDistribution(grid, "comp", "A1", "A2",
        Frequency.Quarterly, Seq(CellGrid.SeriesSpec("v2", "B1", "B2")))
      .orderBy(col("indice_tiempo"))
  }
  register(Q("q27_composed_time", qComposedTime,
      s"""WITH grid AS (
         |  SELECT CAST(event_id + 2 AS INT) AS row, 1 AS col,
         |    CASE WHEN event_id % 5 = 0
         |         THEN CAST(CAST(event_id // 5 + 2000 AS INT) AS VARCHAR)
         |         ELSE ['I','II','III','IV'][CAST(event_id % 5 AS INT)]
         |    END AS value
         |  FROM events WHERE event_id < 100
         |  UNION ALL
         |  SELECT CAST(event_id + 2 AS INT), 2,
         |    CAST(CAST(value AS DECIMAL(12,2)) AS VARCHAR)
         |  FROM events WHERE event_id < 100 AND event_id % 5 <> 0
         |),
         |tm0 AS (
         |  SELECT row, value,
         |    last_value(CASE WHEN regexp_matches(trim(value), '^\\d{4}$$')
         |        THEN trim(value) END IGNORE NULLS)
         |      OVER (ORDER BY row ROWS BETWEEN UNBOUNDED PRECEDING
         |        AND CURRENT ROW) AS yr
         |  FROM grid WHERE col = 1 AND row >= 2),
         |tm AS (
         |  SELECT row, CASE trim(value)
         |    WHEN 'I' THEN make_date(CAST(yr AS INT), 1, 1)
         |    WHEN 'II' THEN make_date(CAST(yr AS INT), 4, 1)
         |    WHEN 'III' THEN make_date(CAST(yr AS INT), 7, 1)
         |    WHEN 'IV' THEN make_date(CAST(yr AS INT), 10, 1) END
         |    AS indice_tiempo
         |  FROM tm0),
         |vals AS (
         |  SELECT row, 'v2' AS serie_id,
         |    TRY_CAST(trim(value) AS DOUBLE) AS valor
         |  FROM grid WHERE col = 2 AND row >= 2)
         |SELECT serie_id, indice_tiempo, valor
         |FROM tm JOIN vals USING (row)
         |WHERE indice_tiempo IS NOT NULL
         |ORDER BY indice_tiempo""".stripMargin))

  /** Two-column composed time (year column | period column, the
    * xlseries composed_headers_coord layout): year markers in col A,
    * roman quarters in col B (the time column), values in col C. */
  private def qComposedTwoCol(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val e = t.events.filter(col("event_id") < 100)
    val w = col("event_id") % 5
    val hdr = t.events.filter(col("event_id") < 3).select(
      lit("comp2").as("sheet"), lit(1).as("row"),
      (col("event_id") + 1).cast("int").as("col"),
      when(col("event_id") === 0, lit("anio"))
        .when(col("event_id") === 1, lit("indice_tiempo"))
        .otherwise(lit("v3")).as("value"))
    val yearCells = e.filter(w === 0).select(lit("comp2").as("sheet"),
      (col("event_id") + 2).cast("int").as("row"), lit(1).as("col"),
      (floor(col("event_id") / 5) + 2000).cast("int").cast("string")
        .as("value"))
    val periodCells = e.filter(w =!= 0).select(lit("comp2").as("sheet"),
      (col("event_id") + 2).cast("int").as("row"), lit(2).as("col"),
      element_at(array(lit("I"), lit("II"), lit("III"), lit("IV")),
        w.cast("int")).as("value"))
    val valueCells = e.filter(w =!= 0).select(lit("comp2").as("sheet"),
      (col("event_id") + 2).cast("int").as("row"), lit(3).as("col"),
      col("value").cast("decimal(12,2)").cast("string").as("value"))
    val grid = hdr.union(yearCells).union(periodCells).union(valueCells)
    CellGrid.scrapeDistribution(grid, "comp2", "B1", "B2",
        Frequency.Quarterly, Seq(CellGrid.SeriesSpec("v3", "C1", "C2")))
      .orderBy(col("indice_tiempo"))
  }
  register(Q("q28_composed_two_col", qComposedTwoCol,
      s"""WITH grid AS (
         |  SELECT CAST(event_id + 2 AS INT) AS row, 1 AS col,
         |    CAST(CAST(event_id // 5 + 2000 AS INT) AS VARCHAR) AS value
         |  FROM events WHERE event_id < 100 AND event_id % 5 = 0
         |  UNION ALL
         |  SELECT CAST(event_id + 2 AS INT), 2,
         |    ['I','II','III','IV'][CAST(event_id % 5 AS INT)]
         |  FROM events WHERE event_id < 100 AND event_id % 5 <> 0
         |  UNION ALL
         |  SELECT CAST(event_id + 2 AS INT), 3,
         |    CAST(CAST(value AS DECIMAL(12,2)) AS VARCHAR)
         |  FROM events WHERE event_id < 100 AND event_id % 5 <> 0
         |),
         |rows_ AS (
         |  SELECT row,
         |    max(CASE WHEN col = 2 THEN value END) AS v,
         |    max(CASE WHEN col = 1 THEN value END) AS lv
         |  FROM grid WHERE row >= 2 AND col IN (1, 2) GROUP BY row),
         |tm0 AS (
         |  SELECT row, v,
         |    last_value(CASE
         |        WHEN v IS NOT NULL AND regexp_matches(trim(v), '^\\d{4}$$')
         |          THEN trim(v)
         |        WHEN lv IS NOT NULL AND regexp_matches(trim(lv), '^\\d{4}$$')
         |          THEN trim(lv) END IGNORE NULLS)
         |      OVER (ORDER BY row ROWS BETWEEN UNBOUNDED PRECEDING
         |        AND CURRENT ROW) AS yr
         |  FROM rows_),
         |tm AS (
         |  SELECT row, CASE trim(v)
         |    WHEN 'I' THEN make_date(CAST(yr AS INT), 1, 1)
         |    WHEN 'II' THEN make_date(CAST(yr AS INT), 4, 1)
         |    WHEN 'III' THEN make_date(CAST(yr AS INT), 7, 1)
         |    WHEN 'IV' THEN make_date(CAST(yr AS INT), 10, 1) END
         |    AS indice_tiempo
         |  FROM tm0),
         |vals AS (
         |  SELECT row, 'v3' AS serie_id,
         |    TRY_CAST(trim(value) AS DOUBLE) AS valor
         |  FROM grid WHERE col = 3 AND row >= 2)
         |SELECT serie_id, indice_tiempo, valor
         |FROM tm JOIN vals USING (row)
         |WHERE indice_tiempo IS NOT NULL
         |ORDER BY indice_tiempo""".stripMargin))
}
