package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col

import graft.model.Schemas
import graft.operators.{Relational, WeatherOps}
import graft.pipeline.WeatherPipeline
import graft.sinks.Sinks
import graft.sources.Sources

/** The paper's daily DAG: a backfill of OWM payloads plus the city lookup
  * CSV through `WeatherPipeline.run`, each iteration into a fresh store.
  * Its traced run also probes the sources, sinks and join one call at a
  * time, and the query layer over generated harness tables. */
final class WeatherBackfill(c: Ctx) extends Workload(c) {
  private val payloadFile = ctx.in("payloads.jsonl")
  private val csvPath = ctx.in("us_cities.csv")

  def records: Long = ctx.metaLong("payloads")
  def inputBytes: Long = Files.size(payloadFile) + Files.size(csvPath)

  private def payloads(): Seq[String] =
    java.nio.file.Files.readAllLines(java.nio.file.Paths.get(payloadFile)).asScala.toIndexedSeq

  private def pipeline(n: Int) = new WeatherPipeline(ctx.spark, ctx.out(s"it$n"))

  def iteration(n: Int): Unit = {
    val raw = payloads()
    val p = pipeline(n)
    if (!ctx.spans.enabled) p.run(raw, csvPath)
    else {
      // the stage methods `run` composes, in its order
      val s = ctx.spans
      val df = s("pipeline.weather.extract")(p.extract(raw))
      s("pipeline.weather.load_parallel")(p.loadParallel(df, csvPath))
      s("pipeline.weather.join_export")(p.exportCsv(p.joined()))
      s("pipeline.weather.load_warehouse")(p.loadWarehouse())
    }
  }

  override def probes(): Seq[(String, Double)] = {
    val s = ctx.spans
    val spark = ctx.spark
    val raw = payloads()
    val root = ctx.out("probe")
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def timed(name: String)(body: => Unit): (String, Double) = {
      val t0 = System.nanoTime(); s(name)(body); s"${name}_s" -> (System.nanoTime() - t0) / 1e9
    }
    val weatherPath = s"$root/store/weather"
    val lookupPath = s"$root/store/lookup"
    val exportPath = s"$root/export"
    val whSchema = org.apache.spark.sql.types.StructType(
      Schemas.weatherRecord.fields ++ Schemas.cityLookup.fields.filter(_.name != "city"))
    def weather() = WeatherOps.flattenOwm(Sources.jsonDocuments(spark, raw, Schemas.owmPayload))
    def lookup() = Sources.csvPositional(spark, csvPath, Schemas.cityLookup)
    def joined() = Relational.lookupJoin(
      spark.read.parquet(weatherPath), spark.read.parquet(lookupPath), "city")
    def reread() = Sources.csvWithTimestampCoercion(
      spark, exportPath, whSchema, Seq("time_of_record", "sunrise", "sunset"))
    val out = Seq(
      timed("sources.json_parse")(noop(weather())),
      timed("sources.csv_scan")(noop(lookup())),
      timed("sinks.append")(Sinks.append(weather(), weatherPath)),
      timed("sinks.append_positional")(Sinks.appendPositional(
        lookup(), Schemas.cityLookup.fieldNames.toIndexedSeq, lookupPath)),
      timed("operators.lookup_join")(noop(joined())),
      timed("sinks.csv_single")(Sinks.csv(
        joined().select(Schemas.finalWeatherCsvOrder.map(col): _*), exportPath, singleFile = true)),
      timed("sources.csv_coerce")(noop(reread())),
      timed("sinks.append_by_name")(Sinks.appendByName(
        reread(), Schemas.finalWeatherWarehouseOrder, s"$root/warehouse")))
    // the two load branches one after the other, against loadParallel
    val p = new WeatherPipeline(spark, s"$root/serial")
    val df = p.extract(raw)
    val serial = Seq(
      timed("pipeline.weather.load_weather")(p.loadWeather(df)),
      timed("pipeline.weather.load_lookup")(p.loadLookup(csvPath)))
    val par = timed("pipeline.weather.load_parallel_probe")(
      new WeatherPipeline(spark, s"$root/parallel").loadParallel(df, csvPath))
    Files.delete(root)
    val queries = QueryProbe.run(ctx, ctx.in("catalog/tables"),
      ctx.meta("queries").split(",").toSeq, ctx.out("query_rows.json"))
    out ++ serial ++ queries :+ ("pipeline.weather.branch_overlap" -> serial.map(_._2).sum / par._2)
  }

  def checks(first: Int, last: Int): Seq[Check] = {
    val spark = ctx.spark
    val matched = ctx.metaLong("matched")
    for (n <- Seq(first, last).distinct) yield {
      val p = pipeline(n)
      val wh = spark.read.parquet(p.warehousePath)
      val exported = spark.read.option("header", "true").csv(p.exportCsvPath).count()
      val whRows = wh.count()
      val golden = wh.filter(col("city") === "Houston" &&
          col("time_of_record") === java.sql.Timestamp.valueOf("2025-03-17 04:31:08"))
        .collect()
      val goldenOk = golden.length == 1 && {
        val r = golden.head
        r.getAs[String]("state") == "Texas" && r.getAs[String]("description") == "clear sky" &&
        r.getAs[Double]("temperature_fahrenheit") == 55.148 &&
        r.getAs[Double]("feels_like_fahrenheit") == 53.654 &&
        r.getAs[Double]("min_temperature_fahrenheit") == 50.198 &&
        r.getAs[Double]("max_temperature_fahrenheit") == 57.11 &&
        r.getAs[Long]("pressure") == 1024L && r.getAs[Long]("humidity") == 70L &&
        r.getAs[Long]("census_2020") == 2304580L &&
        r.getAs[java.sql.Timestamp]("sunrise").getTime == 1742196515000L
      }
      Seq(
        Check(s"it$n.golden_houston_row", goldenOk, s"${golden.length} candidate rows"),
        Check(s"it$n.joined_count", exported == matched && whRows == matched,
          s"export=$exported warehouse=$whRows expected=$matched"),
        Check(s"it$n.warehouse_column_order",
          wh.columns.toSeq == Schemas.finalWeatherWarehouseOrder, wh.columns.mkString(",")))
    }
  }.flatten
}
