package graft.core

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.StreamReadFeature
import com.fasterxml.jackson.core.json.JsonReadFeature
import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode}
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.databind.node._
import org.apache.hadoop.fs.{FileSystem, Path}

/** The one JSON spelling graft writes and reads: every `_graft_*.json`
  * index sidecar, every drift record and
  * [[graft.api.Graft.writeObject]]'s `orient` branch go through here.
  * [[node]] is the one value encoder; a non-finite double or float becomes
  * `null` (pandas' `to_json` rule), so no file ever holds a bare `NaN`.
  * [[read]] parses strictly (duplicate keys and trailing tokens refuse)
  * and turns a non-finite number back into `null`, which is how it opens
  * the `NaN` an older writer left: a reader sees a missing field and
  * `null` alike (`node.path(f)` with a default, or `hasNonNull`). */
object JsonFile {

  private val mapper = JsonMapper.builder()
    .enable(JsonReadFeature.ALLOW_NON_NUMERIC_NUMBERS)
    .enable(StreamReadFeature.STRICT_DUPLICATE_DETECTION)
    .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)
    .build()

  /** A JSON value for a driver-side value: Spark's row values (a `Row`
    * becomes an object over its schema's names, a `Map` an object, a
    * `Seq` an array), boxed numbers, strings and booleans, `null` for
    * `null` and non-finite numbers; anything else is its `toString`. */
  def node(v: Any): JsonNode = v match {
    case null => NullNode.instance
    case n: JsonNode => n
    case s: String => TextNode.valueOf(s)
    case b: java.lang.Boolean => BooleanNode.valueOf(b)
    case d: java.lang.Double =>
      if (d.isNaN || d.isInfinite) NullNode.instance else DoubleNode.valueOf(d)
    case f: java.lang.Float =>
      if (f.isNaN || f.isInfinite) NullNode.instance else FloatNode.valueOf(f)
    case i: java.lang.Integer => IntNode.valueOf(i)
    case l: java.lang.Long => LongNode.valueOf(l)
    case s: java.lang.Short => ShortNode.valueOf(s)
    case b: java.lang.Byte => IntNode.valueOf(b.intValue)
    case d: java.math.BigDecimal => DecimalNode.valueOf(d)
    case m: scala.collection.Map[_, _] =>
      obj(m.iterator.map { case (k, x) => String.valueOf(k) -> x })
    case r: org.apache.spark.sql.Row =>
      obj(r.schema.fieldNames.iterator.zip(r.toSeq.iterator))
    case s: scala.collection.Seq[_] =>
      new ArrayNode(JsonNodeFactory.instance, s.map(node).asJava)
    case other => TextNode.valueOf(other.toString)
  }

  private def obj(fields: Iterator[(String, Any)]): ObjectNode = {
    val o = JsonNodeFactory.instance.objectNode()
    fields.foreach { case (k, v) => o.set[JsonNode](k, node(v)) }
    o
  }

  /** Compact UTF-8 bytes of [[node]]`(v)`. */
  def bytes(v: Any): Array[Byte] = mapper.writeValueAsBytes(node(v))

  /** Write one object of `fields`, in order, as `path` (overwriting). A
    * later field of the same name replaces an earlier one in place. */
  def write(fs: FileSystem, path: Path, fields: (String, Any)*): Unit = {
    val out = fs.create(path, true)
    try out.write(bytes(obj(fields.iterator))) finally out.close()
  }

  /** Parse `path` as one JSON object, its non-finite numbers as `null`. */
  def read(fs: FileSystem, path: Path): ObjectNode = {
    val in = fs.open(path)
    val root = try mapper.readTree(in) finally in.close()
    root match {
      case o: ObjectNode =>
        o.properties().asScala.toSeq.foreach { e =>
          if (e.getValue.isFloatingPointNumber &&
              !java.lang.Double.isFinite(e.getValue.asDouble))
            o.putNull(e.getKey)
        }
        o
      case _ => throw new IllegalArgumentException(s"$path is not a JSON object")
    }
  }

  /** The fields of a parsed object, in order — to rewrite it with more. */
  def fields(o: ObjectNode): Seq[(String, Any)] =
    o.properties().asScala.toSeq.map(e => e.getKey -> e.getValue)
}
