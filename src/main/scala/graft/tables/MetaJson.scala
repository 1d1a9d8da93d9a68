package graft.tables

import com.fasterxml.jackson.core.json.JsonReadFeature
import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode}
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import scala.util.Try
import scala.util.control.NonFatal

/** The one JSON codec for the version log, prepared-commit intent lines
  * and every table-metadata file: one shared Jackson mapper over the
  * tree model; files are written through [[AtomicFile]].
  *
  * Writers list their fields in order ([[obj]]). Strings escape per JSON
  * (quotes, backslashes, control characters), so a rendered record never
  * holds a raw newline and stays one line of a line-framed file. Readers
  * look fields up by name and fail loudly on a missing or mistyped one;
  * raw control characters inside strings still parse.
  *
  * Log entries and side files written before this codec stored every
  * string raw, and their readers took each backslash literally. So a
  * record whose rendering needs an escape (it then holds a backslash)
  * gets a last field `"escaped":true`, and an unmarked record holding a
  * backslash is read with its backslashes literal: legacy `it\'s` and
  * `\\d` read back as written. A record whose strings need no escape
  * renders byte-for-byte as the older writers rendered it. Intent lines
  * always escaped, so they are plain JSON ([[json]], `decode(plain =
  * true)`). */
private[graft] object MetaJson {

  private val mapper = JsonMapper.builder()
    .enable(JsonReadFeature.ALLOW_UNESCAPED_CONTROL_CHARS)
    .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)
    .build()
  private val nodes = mapper.getNodeFactory
  private val Escaped = "escaped"

  /** An object whose fields render in the order given. Values are
    * strings, longs, ints, booleans, nodes, or sequences of those
    * (arrays); an `Option` field is omitted when `None`. */
  def obj(fields: (String, Any)*): ObjectNode = {
    def node(v: Any): JsonNode = v match {
      case s: String   => nodes.textNode(s)
      case l: Long     => nodes.numberNode(l)
      case i: Int      => nodes.numberNode(i)
      case b: Boolean  => nodes.booleanNode(b)
      case n: JsonNode => n
      case xs: Seq[_]  => nodes.arrayNode().addAll(xs.map(node).asJava)
    }
    val o = nodes.objectNode()
    fields.foreach {
      case (_, None)    => ()
      case (f, Some(v)) => o.set[JsonNode](f, node(v))
      case (f, v)       => o.set[JsonNode](f, node(v))
    }
    o
  }

  def json(n: JsonNode): String = mapper.writeValueAsString(n)

  /** A log or side-file record, marked when it carries an escape. */
  def render(n: ObjectNode): String = {
    val s = json(n)
    if (s.indexOf('\\') < 0) s else json(n.put(Escaped, true))
  }

  /** Parse one record and read it with `f`; `what` names the record in
    * the error when either fails. A `plain` record (an intent line) takes
    * every backslash as a JSON escape; others follow the marker rule. */
  def decode[A](text: String, what: => String, plain: Boolean = false)
      (f: JsonNode => A): A =
    try {
      def parse(t: String) = mapper.readTree(t)
      val n =
        if (plain || text.indexOf('\\') < 0) parse(text)
        else Try(parse(text)).filter(_.has(Escaped))
          .getOrElse(parse(text.replace("\\", "\\\\")))
      require(n != null && n.isObject, "not a JSON object")
      f(n)
    } catch {
      case NonFatal(e) => sys.error(s"$what: ${text.trim} (${e.getMessage})")
    }

  /** Every non-blank line of `text`, decoded. */
  def decodeLines[A](text: String, what: => String)(f: JsonNode => A): Seq[A] =
    text.linesIterator.filter(_.trim.nonEmpty).map(decode(_, what)(f)).toSeq

  private def need(n: JsonNode, f: String, ok: JsonNode => Boolean): JsonNode =
    Option(n.get(f)).filter(ok).getOrElse(sys.error(s"field $f missing or mistyped"))

  def str(n: JsonNode, f: String): String = need(n, f, _.isTextual).textValue
  def long(n: JsonNode, f: String): Long =
    need(n, f, v => v.isIntegralNumber && v.canConvertToLong).longValue
  def bool(n: JsonNode, f: String): Boolean = need(n, f, _.isBoolean).booleanValue
  /** `get(n, f)` when the field is present, else None. */
  def opt[A](n: JsonNode, f: String)(get: (JsonNode, String) => A): Option[A] =
    if (n.hasNonNull(f)) Some(get(n, f)) else None
  /** An array's elements; an absent array reads as empty. */
  def objs(n: JsonNode, f: String): Seq[JsonNode] =
    opt(n, f)(need(_, _, _.isArray).elements().asScala.toSeq).getOrElse(Nil)
  def strs(n: JsonNode, f: String): Seq[String] = objs(n, f).map { e =>
    require(e.isTextual, s"field $f holds a non-string")
    e.textValue
  }

  /** The record at `path`, or None when there is no file. */
  def readFile[A](path: Path)(f: JsonNode => A): Option[A] =
    if (!Files.exists(path)) None
    else Some(decode(Files.readString(path), s"bad record at $path")(f))

  /** The line records at `path`; no file reads as empty. */
  def readLines[A](path: Path)(f: JsonNode => A): Seq[A] =
    if (!Files.exists(path)) Nil
    else decodeLines(Files.readString(path), s"bad record at $path")(f)

  def write(path: Path, n: ObjectNode): Unit = AtomicFile.replace(path, render(n))

  /** One record per line; `terminated` ends the last line too. */
  def writeLines(path: Path, ns: Seq[ObjectNode], terminated: Boolean): Unit =
    AtomicFile.replace(path,
      ns.map(render).mkString("", "\n", if (terminated) "\n" else ""))
}
