package graft.streaming

import org.apache.spark.sql.Row

/** Sink record model — mirror of the reference's `InfluxDBPoint`
  * (`/root/reference` InfluxDBPoint.java:22-74): measurement, epoch-millis
  * timestamp, tag map, field map, as a flat case class (SURVEY.md §1.4).
  */
final case class InfluxPoint(
    measurement: String,
    timeMs: Long,
    tags: Map[String, String],
    fields: Map[String, String])

object InfluxLine {

  private def esc(s: String): String =
    s.replace("\\", "\\\\").replace(",", "\\,").replace(" ", "\\ ").replace("=", "\\=")

  /** A string field value: backslash escaped first, then the quote — the
    * other order would double the quote escapes' own backslashes. */
  private def quoted(v: String): String =
    "\"" + v.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** InfluxDB line protocol: `measurement[,tag=v...] field=v[,field=v...] ns`.
    * Map entries are emitted key-sorted so output is deterministic (the
    * golden-file tests compare exact lines). Field values are written as
    * strings ("v") — matching the reference, which stuffs every value into
    * `Map<String,Object>` and lets influxdb-java stringify.
    */
  def format(p: InfluxPoint): String = {
    val tags = p.tags.toSeq.sortBy(_._1)
      .map { case (k, v) => s",${esc(k)}=${esc(v)}" }.mkString
    val fields = p.fields.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${esc(k)}=${quoted(v)}" }.mkString(",")
    s"${esc(p.measurement)}$tags $fields ${p.timeMs * 1000000L}"
  }

  /** The line for one `(measurement, time_ms, fields)` sink row — the
    * shape `TweetPipelines.toInfluxPoint` projects; both sinks (the
    * line-protocol files of `TwitterJob.writeLines` and
    * [[InfluxHttpWriter]]) write through it. */
  def ofRow(row: Row): String = format(InfluxPoint(
    row.getAs[String]("measurement"),
    row.getAs[Long]("time_ms"),
    Map.empty,
    row.getAs[Map[String, String]]("fields")))
}
