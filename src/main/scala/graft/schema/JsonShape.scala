package graft.schema

import com.fasterxml.jackson.core.{JsonFactory, JsonParser, JsonToken}
import org.apache.spark.unsafe.types.UTF8String

/** Streaming (token-level, no DOM) extraction of a JSON record's ''shape''.
  *
  * Replaces the reference's per-line `Json.parse` + shape-as-`JsValue` IR
  * (`CreateHQL.scala:19`, SURVEY.md §1.1) with a single Jackson token pass
  * that builds the [[JType]] directly — O(record) time, O(schema) memory,
  * no intermediate JSON tree. This is the per-row hot path of the
  * distributed inference aggregation, so it must not allocate a DOM.
  */
object JsonShape {

  private val factory = new JsonFactory()

  /** Shape of one JSON document, or None if it does not parse as a single
    * complete JSON value (trailing garbage counts as invalid — stricter
    * than the reference's first-value-only `checkJSONValid`,
    * `HiveSchemaGenerator.scala:77-95`; divergence noted in SURVEY.md §2 #3). */
  def of(json: String, typed: Boolean): Option[JType] = {
    if (json == null) return None
    val p = factory.createParser(json)
    try {
      val t = p.nextToken()
      if (t == null) return None
      val shape = read(p, t, typed)
      if (p.nextToken() != null) None else Some(shape) // require EOF
    } catch {
      case _: Exception => None
    } finally p.close()
  }

  private def read(p: JsonParser, t: JsonToken, typed: Boolean): JType = t match {
    case JsonToken.START_OBJECT =>
      val fields = Vector.newBuilder[(String, JType)]
      // 64-bit filter over the names' hashes: a bit seen twice means a
      // key MAY repeat, and only then is the object checked exactly
      var seen = 0L
      var maybeRepeat = false
      var tok = p.nextToken()
      while (tok != JsonToken.END_OBJECT) {
        val name = p.currentName()
        val bit = 1L << (name.hashCode & 63)
        maybeRepeat |= (seen & bit) != 0
        seen |= bit
        fields += name -> read(p, p.nextToken(), typed)
        tok = p.nextToken()
      }
      val fs = fields.result()
      JStruct(if (maybeRepeat) oneFieldPerKey(fs, typed) else fs)
    case JsonToken.START_ARRAY =>
      // Merge ALL element shapes (sane divergence from the reference's
      // head-only array handling, CreateHQL.scala:55 — see SURVEY.md §1.2).
      var elem: JType = JNull
      var tok = p.nextToken()
      while (tok != JsonToken.END_ARRAY) {
        elem = JType.merge(elem, read(p, tok, typed), typed)
        tok = p.nextToken()
      }
      JArr(elem)
    case JsonToken.VALUE_NULL    => JNull
    case JsonToken.VALUE_STRING  => JStr
    case JsonToken.VALUE_NUMBER_INT   => if (typed) JLong else JStr
    case JsonToken.VALUE_NUMBER_FLOAT => if (typed) JDouble else JStr
    case JsonToken.VALUE_TRUE | JsonToken.VALUE_FALSE => if (typed) JBool else JStr
    case other => throw new IllegalStateException(s"unexpected token $other")
  }

  /** One field per key, at the key's first position, shaped as the
    * [[JType.merge]] of every value it carried — so the table reads
    * any of them. A repeated key inside one object (`{"a":1,"a":2}`)
    * would otherwise become two same-named columns, which the Hive
    * CREATE rejects (`COLUMN_ALREADY_EXISTS`). Allocates nothing
    * unless a key really repeats. */
  private def oneFieldPerKey(fs: Vector[(String, JType)],
                             typed: Boolean): Vector[(String, JType)] = {
    var repeat = false
    var i = 1
    while (!repeat && i < fs.length) {
      val k = fs(i)._1
      var j = 0
      while (!repeat && j < i) {
        val o = fs(j)._1
        repeat = o.hashCode == k.hashCode && o == k
        j += 1
      }
      i += 1
    }
    if (!repeat) fs
    else {
      val merged = scala.collection.mutable.LinkedHashMap.empty[String, JType]
      fs.foreach { case (k, v) =>
        merged(k) = merged.get(k).fold(v)(JType.merge(_, v, typed)) }
      merged.toVector
    }
  }

  /** Shape for inference over NDJSON rows: a record whose top level is not
    * an object poisons the aggregate to [[JTop]] (the reference silently
    * emits `ERROR` DDL instead — `CreateHQL.scala:91`, SURVEY.md §1.2). */
  def ofRecord(json: String, typed: Boolean): JType = of(json, typed) match {
    case Some(s: JStruct) => s
    case Some(_)          => JTop
    case None             => JTop
  }

  /** True iff the string is exactly one parseable JSON value. */
  def isValid(json: String): Boolean = of(json, typed = false).isDefined

  /** Codegen entry point for [[graft.functions.JsonIsValid]]. */
  def isValidUTF8(s: UTF8String): Boolean = s != null && isValid(s.toString)

  /** True iff valid JSON AND the top level is an object — the contract a
    * record must meet to contribute to table-schema inference. */
  def isValidObject(json: String): Boolean =
    of(json, typed = false).exists(_.isInstanceOf[JStruct])

  def isValidObjectUTF8(s: UTF8String): Boolean =
    s != null && isValidObject(s.toString)
}
