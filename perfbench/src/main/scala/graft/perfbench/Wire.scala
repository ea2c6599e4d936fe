package graft.perfbench

import graft.sources.{CqlProtocol, EsHttp}
import org.apache.spark.sql.types.{DataType, LongType}

/** The load generator's writers: one connection per store, through the
  * main code's wire clients, so generated load never runs on Spark's
  * executor threads. */
final class CqlWriter(hostPort: String, ks: String) extends AutoCloseable {
  private val Array(host, port) = hostPort.split(":")
  private val client = new CqlProtocol.Client(host, port.toInt)
  var requests = 0

  /** INSERT the given typed columns, optionally USING TIMESTAMP, as one
    * UNLOGGED batch per call (`rows` statements). */
  def insert(table: String, cols: Seq[(String, DataType)],
      rows: Seq[(Seq[Any], Option[Long])]): Unit = if (rows.nonEmpty) {
    val stmts = rows.map { case (values, stamp) =>
      val cql = s"INSERT INTO $ks.$table (${cols.map(_._1).mkString(", ")}) VALUES (" +
        cols.map(_ => "?").mkString(", ") + ")" + stamp.fold("")(_ => " USING TIMESTAMP ?")
      val bound = values.zip(cols).map { case (v, (_, dt)) => CqlProtocol.encode(v, dt) } ++
        stamp.map(CqlProtocol.encode(_, LongType))
      (cql, bound)
    }
    client.batch(stmts)
    requests += 1
  }

  override def close(): Unit = client.close()
}

final class EsWriter(url: String) {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  var requests = 0

  /** One `_bulk` request indexing `docs` (id, external_gte version, doc
    * fields); returns the number of items the store rejected. */
  def index(index: String, docs: Seq[(String, Option[Long], Seq[(String, Any)])]): Int =
    if (docs.isEmpty) 0
    else {
      val body = new StringBuilder
      docs.foreach { case (id, version, fields) =>
        val action = mapper.createObjectNode()
        val a = action.putObject("index").put("_index", index).put("_id", id)
        version.foreach(v => a.put("version", v).put("version_type", "external_gte"))
        val doc = mapper.createObjectNode()
        fields.foreach {
          case (k, v: Long) => doc.put(k, v)
          case (k, v: String) => doc.put(k, v)
          case (k, v) => throw new IllegalArgumentException(s"unsupported field $k=$v")
        }
        body.append(mapper.writeValueAsString(action)).append('\n')
          .append(mapper.writeValueAsString(doc)).append('\n')
      }
      val (code, resp) = EsHttp.request("POST", s"$url/_bulk", Some(body.toString),
        "application/x-ndjson")
      requests += 1
      if (code != 200) docs.size
      else {
        val items = mapper.readTree(resp).path("items")
        (0 until items.size).count { i =>
          val it = items.get(i).path("index")
          it.path("status").asInt(500) >= 300
        }
      }
    }

  def createIndex(index: String, fields: Seq[(String, String)]): Unit = {
    val props = fields.map { case (n, t) => s""""$n":{"type":"$t"}""" }.mkString(",")
    val (code, resp) = EsHttp.request("PUT", s"$url/$index",
      Some(s"""{"mappings":{"properties":{$props}}}"""))
    require(code == 200, s"create index $index: $code $resp")
  }
}
