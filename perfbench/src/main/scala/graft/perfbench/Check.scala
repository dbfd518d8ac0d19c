package graft.perfbench

import java.io.File
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Independent result check for the serve workloads: a brute-force ranker
  * in plain JVM code (no Spark, none of the program's classes) reruns every
  * timed request over the generated corpus and compares the served
  * envelope.
  *
  * Per request it checks the ids and their (distance, id) order, the
  * `{layers, error}` envelope and each layer's fields, and for MCP the
  * JSON-RPC frame, `structuredContent`, the text copy of it, and that every
  * string went through HTML-to-markdown. Near-ties: a served id in another
  * position than the brute-force one passes when the two distances differ
  * by at most [[TieTolerance]].
  *
  * Args: corpusDir (emb.f32 + meta.json from gen.py) resultsJsonl outJson
  */
object Check {

  val TieTolerance = 1e-9
  private val Fields = Seq("id", "name", "type", "description", "url", "metadata_text")
  private val mapper = new ObjectMapper()

  final class Corpus(dir: String) {
    private val meta = mapper.readTree(new File(dir, "meta.json"))
    val dim: Int = meta.get("dim").asInt()
    private def strings(k: String) = meta.get(k).elements().asScala.map(_.asText()).toArray
    val fields: Map[String, Array[String]] = Fields.map(f => f -> strings(f)).toMap
    val ids: Array[String] = fields("id")
    val rows: Int = ids.length
    val typeLower: Array[String] = fields("type").map(_.toLowerCase(java.util.Locale.ROOT))
    val bbox: Array[Double] = meta.get("bbox").elements().asScala.map(_.asDouble()).toArray
    val emb: Array[Float] = {
      val f = new File(dir, "emb.f32")
      val bytes = java.nio.file.Files.readAllBytes(f.toPath)
      val fb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN).asFloatBuffer()
      val a = new Array[Float](rows * dim)
      fb.get(a)
      a
    }
    val rowOf: Map[String, Int] = ids.zipWithIndex.toMap
  }

  /** The hashing query encoder, written out from its definition: per
    * whitespace token, FNV-1a 64 of the UTF-8 bytes, splitmix64 finalizer,
    * bucket (u >>> 1) % dim, sign from the low bit; then L2-normalized.
    */
  def encode(text: String, dim: Int): Array[Float] = {
    val v = new Array[Float](dim)
    val t = text.trim
    if (t.nonEmpty) t.split("\\s+").foreach { tok =>
      var h = 0xcbf29ce484222325L
      tok.getBytes(UTF_8).foreach { b => h ^= (b & 0xffL); h *= 0x100000001b3L }
      var z = h
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z = z ^ (z >>> 31)
      val idx = ((z >>> 1) % dim).toInt
      v(idx) += (if ((z & 1L) == 0L) 1f else -1f)
    }
    val norm = math.sqrt(v.map(x => x.toDouble * x).sum)
    if (norm > 0) for (i <- v.indices) v(i) = (v(i) / norm).toFloat
    v
  }

  /** Spherical Web Mercator inverse (EPSG:3857 -> 4326), radius = WGS84 a. */
  def fromWebMercator(x: Double, y: Double): (Double, Double) = {
    val r = 6378137.0
    (math.toDegrees(x / r), math.toDegrees(2.0 * math.atan(math.exp(y / r)) - math.Pi / 2.0))
  }

  /** Every matching row, ordered by (cosine distance, id). */
  def rank(c: Corpus, body: JsonNode): Array[(Double, Int)] = {
    val probe = encode(body.get("request_string").asText(), c.dim)
    val probes = Option(body.get("type_filter")).map(_.elements().asScala.map(_.asText())
      .filter(_.nonEmpty).map(_.toLowerCase(java.util.Locale.ROOT)).toSet).getOrElse(Set.empty[String])
    val point = Option(body.get("input_point")).map { p =>
      val (x, y) = (p.get("longitude").asDouble(), p.get("latitude").asDouble())
      if (Option(p.get("epsg")).exists(_.asInt() == 3857)) fromWebMercator(x, y) else (x, y)
    }
    val out = mutable.ArrayBuffer[(Double, Int)]()
    var r = 0
    while (r < c.rows) {
      val typeOk = probes.isEmpty || probes.contains(c.typeLower(r))
      val pointOk = point.forall { case (x, y) =>
        x >= c.bbox(4 * r) && x <= c.bbox(4 * r + 2) && y >= c.bbox(4 * r + 1) && y <= c.bbox(4 * r + 3)
      }
      if (typeOk && pointOk) {
        var dot = 0.0; var nx = 0.0; var ny = 0.0
        var i = 0
        val base = r * c.dim
        while (i < c.dim) {
          val a = c.emb(base + i).toDouble
          val b = probe(i).toDouble
          dot += a * b; nx += a * a; ny += b * b
          i += 1
        }
        out += ((1.0 - dot / (math.sqrt(nx) * math.sqrt(ny)), r))
      }
      r += 1
    }
    out.sortInPlaceWith { case ((d1, r1), (d2, r2)) =>
      if (d1 != d2) d1 < d2 else c.ids(r1) < c.ids(r2)
    }.toArray
  }

  private def words(s: String): Seq[String] =
    s.replaceAll("<[^>]*>", " ").split("[^A-Za-z0-9]+").toSeq.filter(_.nonEmpty)

  /** HTML-to-markdown kept the text: no tags left, words in order. */
  private def markdownOf(md: String, html: String): Boolean = {
    val mw = words(md).iterator
    !md.matches("(?s).*</?(p|b|div|a)[ >].*") && words(html).forall(w => mw.contains(w))
  }

  /** Why a served response is wrong, or None when it is right. */
  def verify(c: Corpus, ranked: Array[(Double, Int)], via: String, body: JsonNode,
             status: Int, resp: JsonNode): Option[String] = {
    if (status != 200) return Some(s"status $status")
    val envelope =
      if (via == "mcp") {
        val result = resp.get("result")
        if (resp.path("jsonrpc").asText() != "2.0" || result == null) return Some("not a JSON-RPC result")
        if (result.path("isError").asBoolean(true)) return Some("tool call isError")
        val sc = result.get("structuredContent")
        val text = result.path("content").path(0)
        if (sc == null || text.path("type").asText() != "text") return Some("no structuredContent")
        if (mapper.readTree(text.path("text").asText()) != sc) return Some("text copy differs from structuredContent")
        sc
      } else resp
    val names = envelope.fieldNames().asScala.toSet
    if (names != Set("layers", "error")) return Some(s"envelope fields $names")
    if (!envelope.get("error").isNull) return Some(s"error: ${envelope.get("error").asText()}")
    val layers = envelope.get("layers").elements().asScala.toSeq
    val skip = body.path("skip").asInt(0)
    val limit = body.path("limit").asInt(5)
    val want = ranked.slice(skip, skip + limit)
    if (layers.length != want.length) return Some(s"${layers.length} layers, want ${want.length}")
    for (((layer, (dist, row)), k) <- layers.zip(want).zipWithIndex) {
      val id = layer.path("id").asText()
      if (layer.fieldNames().asScala.toSet != Fields.toSet) return Some(s"layer fields at $k")
      val gotRow = c.rowOf.getOrElse(id, -1)
      if (gotRow < 0) return Some(s"unknown id $id at $k")
      if (gotRow != row) {
        val gotDist = ranked.find(_._2 == gotRow).map(_._1)
        if (!gotDist.exists(d => math.abs(d - dist) <= TieTolerance))
          return Some(s"position ${skip + k}: got $id, want ${c.ids(row)}")
      }
      for (f <- Fields if f != "id") {
        val served = layer.path(f).asText()
        val source = c.fields(f)(gotRow)
        val ok = if (via == "mcp") markdownOf(served, source) else served == source
        if (!ok) return Some(s"field $f of $id")
      }
    }
    None
  }

  def main(args: Array[String]): Unit = {
    val Array(corpusDir, resultsPath, outPath) = args
    val c = new Corpus(corpusDir)
    val cache = mutable.HashMap[String, Array[(Double, Int)]]()
    val failures = mutable.ArrayBuffer[Map[String, Any]]()
    var checked = 0
    scala.io.Source.fromFile(resultsPath, "UTF-8").getLines().filter(_.nonEmpty).foreach { line =>
      val r = mapper.readTree(line)
      val body = r.get("body")
      // a paging session's pages share one ranking
      val key = mapper.writeValueAsString(body.deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
        .without(java.util.List.of("skip", "limit")))
      val ranked = cache.getOrElseUpdate(key, rank(c, body))
      val resp = r.get("response")
      val why =
        if (resp == null || resp.isNull) Some(r.path("error").asText("no response"))
        else verify(c, ranked, r.get("via").asText(), body, r.get("status").asInt(), resp)
      checked += 1
      why.foreach(w => failures += Map("i" -> r.get("i").asInt(), "reason" -> w))
    }
    Common.writeFile(outPath, Common.json(Map("checked" -> checked, "failures" -> failures.toSeq,
      "java_version" -> System.getProperty("java.version"))))
  }
}
