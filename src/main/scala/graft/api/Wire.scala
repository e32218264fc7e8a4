package graft.api

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import graft.operators.{QueryException, Restriction, ResultFormat}
import graft.operators.Ann.AnnRequest
import org.apache.spark.sql.DataFrame
import scala.jdk.CollectionConverters._

/** The HTTP JSON wire contract, minus the HTTP server: request decoding and
  * columnar response encoding exactly as the reference's httpapi layer
  * defines them, as pure functions a serving shell (or a test) composes with
  * [[graft.operators.Engine]].
  *
  * Reference shapes (`crates/httpapi/src/lib.rs`):
  *  - `PostIndexAnnRequest` (lib.rs:368-374): `vector` (required),
  *    `filter.restrictions` (the 12 tagged forms, lib.rs:320-366) +
  *    `filter.allow_filtering`, `limit` (positive, default 1 —
  *    lib.rs:273-293);
  *  - `PostIndexAnnResponse` (lib.rs:376-381): columnar
  *    `primary_keys[col] -> values`, `distances`, `similarity_scores`,
  *    every float serialized through f32 saturation (±inf → ±f32::MAX,
  *    lib.rs:398-414);
  *  - `PostIndexBm25Request`/`Response` (lib.rs:464-480): `query` + `limit`,
  *    columnar `primary_keys` + `scores`;
  *  - typed values cross the boundary via the try_from_json/try_to_json
  *    conversions ([[JsonValues]], httproutes.rs:1327-1477), validated by
  *    `validator/src/serde.rs` for every native type.
  *
  * Scale note: responses are k-bounded (top-k rows), so the one collect in
  * the encoder is the same driver materialization any HTTP server would do.
  */
object Wire {

  import JsonValues.NativeType

  /** Floats parse to BigDecimal nodes so decimal/varint literals keep
    * arbitrary precision across the boundary (CQL varint/decimal exceed
    * f64 — serde.rs test_varint_filter uses -98765432109876543210). */
  private val mapper: ObjectMapper = {
    val m = new ObjectMapper
    m.enable(com.fasterxml.jackson.databind.DeserializationFeature
      .USE_BIG_DECIMAL_FOR_FLOATS)
    m
  }

  private def fail(msg: String): Nothing = throw new QueryException(400, msg)

  private def colType(types: Map[String, NativeType], name: String): NativeType =
    types.getOrElse(name, fail(s"unknown column in restriction: $name"))

  private def jsonToPlain(n: JsonNode): Any = {
    if (n.isTextual) n.asText()
    else if (n.isBoolean) n.asBoolean()
    else if (n.isBigInteger || n.isBigDecimal) n.decimalValue()
    else if (n.isIntegralNumber) n.asLong(): java.lang.Long
    else if (n.isNumber) n.decimalValue()
    else fail(s"unsupported JSON value: $n")
  }

  /** Spark Row values → the JVM shapes [[JsonValues.toJson]] speaks. */
  private def normalize(v: Any): Any = v match {
    case bd: java.math.BigDecimal => BigDecimal(bd)
    case ld: java.time.LocalDate => java.sql.Date.valueOf(ld)
    case i: java.time.Instant => java.sql.Timestamp.from(i)
    case other => other
  }

  private def typed(types: Map[String, NativeType], col: String, v: JsonNode): Any =
    JsonValues.fromJson(jsonToPlain(v), colType(types, col))

  private def strings(n: JsonNode): Seq[String] = {
    if (!n.isArray) fail(s"expected an array of column names, got: $n")
    n.elements().asScala.map { e =>
      if (!e.isTextual) fail(s"column name must be a string: $e")
      e.asText()
    }.toSeq
  }

  private def tupleValues(
      types: Map[String, NativeType], cols: Seq[String], n: JsonNode): Seq[Any] = {
    if (!n.isArray) fail(s"expected a tuple value array, got: $n")
    val vs = n.elements().asScala.toSeq
    if (vs.length != cols.length)
      fail(s"tuple arity mismatch: ${cols.length} columns vs ${vs.length} values")
    cols.zip(vs).map { case (c, v) => typed(types, c, v) }
  }

  /** One `PostIndexAnnRestriction` (wire tag → [[Restriction]] form). */
  private def parseRestriction(
      types: Map[String, NativeType], n: JsonNode): Restriction = {
    val tag = Option(n.get("type")).map(_.asText()).getOrElse(
      fail("restriction missing 'type'"))
    def lhs1 = Option(n.get("lhs")).map(_.asText()).getOrElse(fail("missing lhs"))
    def lhsN = strings(Option(n.get("lhs")).getOrElse(fail("missing lhs")))
    def rhs = Option(n.get("rhs")).getOrElse(fail("missing rhs"))
    tag match {
      case "==" => Restriction.Eq(lhs1, typed(types, lhs1, rhs))
      case "IN" =>
        if (!rhs.isArray) fail("IN rhs must be an array")
        Restriction.In(lhs1, rhs.elements().asScala.map(typed(types, lhs1, _)).toSeq)
      case "<" => Restriction.Lt(lhs1, typed(types, lhs1, rhs))
      case "<=" => Restriction.Lte(lhs1, typed(types, lhs1, rhs))
      case ">" => Restriction.Gt(lhs1, typed(types, lhs1, rhs))
      case ">=" => Restriction.Gte(lhs1, typed(types, lhs1, rhs))
      case "()==()" =>
        val cols = lhsN; Restriction.EqTuple(cols, tupleValues(types, cols, rhs))
      case "()IN()" =>
        val cols = lhsN
        if (!rhs.isArray) fail("()IN() rhs must be an array of tuples")
        Restriction.InTuple(cols,
          rhs.elements().asScala.map(tupleValues(types, cols, _)).toSeq)
      case "()<()" =>
        val cols = lhsN; Restriction.LtTuple(cols, tupleValues(types, cols, rhs))
      case "()<=()" =>
        val cols = lhsN; Restriction.LteTuple(cols, tupleValues(types, cols, rhs))
      case "()>()" =>
        val cols = lhsN; Restriction.GtTuple(cols, tupleValues(types, cols, rhs))
      case "()>=()" =>
        val cols = lhsN; Restriction.GteTuple(cols, tupleValues(types, cols, rhs))
      case other => fail(s"unknown restriction type: $other")
    }
  }

  private def parseLimit(root: JsonNode): Int = Option(root.get("limit")) match {
    case None => 1 // Limit::default = NonZeroUsize(1), lib.rs:289-293
    case Some(n) =>
      // canConvertToLong guards the BigInteger path: 2^64+1 would otherwise
      // truncate via longValue() and be silently accepted as 1
      if (!n.isIntegralNumber || !n.canConvertToLong || n.asLong() < 1)
        fail(s"limit must be a positive integer, got: $n")
      if (n.asLong() > Int.MaxValue) fail("limit too large")
      n.asLong().toInt
  }

  /** Decode a `PostIndexAnnRequest` body against the table's column types. */
  def parseAnnRequest(json: String, types: Map[String, NativeType]): AnnRequest = {
    val root =
      try mapper.readTree(json)
      catch { case e: Exception => fail(s"malformed JSON: ${e.getMessage}") }
    if (root == null || !root.isObject) fail("request body must be a JSON object")
    val vecNode = Option(root.get("vector")).getOrElse(fail("missing 'vector'"))
    if (!vecNode.isArray) fail("'vector' must be an array of numbers")
    val vector = vecNode.elements().asScala.map { e =>
      if (!e.isNumber) fail(s"vector element must be a number: $e")
      e.floatValue()
    }.toSeq
    val (restrictions, allowFiltering) = Option(root.get("filter")) match {
      case None => (Nil, false)
      case Some(f) =>
        if (!f.isObject) fail("'filter' must be an object")
        val rs = Option(f.get("restrictions")).map { rn =>
          if (!rn.isArray) fail("'restrictions' must be an array")
          rn.elements().asScala.map(parseRestriction(types, _)).toSeq
        }.getOrElse(Nil)
        val af = Option(f.get("allow_filtering")).exists(_.asBoolean(false))
        (rs, af)
    }
    AnnRequest(vector, parseLimit(root), restrictions, allowFiltering)
  }

  /** Decode a `PostIndexBm25Request` body: (query, limit). */
  def parseBm25Request(json: String): (String, Int) = {
    val root =
      try mapper.readTree(json)
      catch { case e: Exception => fail(s"malformed JSON: ${e.getMessage}") }
    if (root == null || !root.isObject) fail("request body must be a JSON object")
    val q = Option(root.get("query")).getOrElse(fail("missing 'query'"))
    if (!q.isTextual) fail("'query' must be a string")
    (q.asText(), parseLimit(root))
  }

  // ---- request ENCODING (the client half: the reference's request types
  // ---- derive Serialize too, and its validator emits them) ----------------

  private def wireTag(r: Restriction): String = r match {
    case _: Restriction.Eq => "=="
    case _: Restriction.In => "IN"
    case _: Restriction.Lt => "<"
    case _: Restriction.Lte => "<="
    case _: Restriction.Gt => ">"
    case _: Restriction.Gte => ">="
    case _: Restriction.EqTuple => "()==()"
    case _: Restriction.InTuple => "()IN()"
    case _: Restriction.LtTuple => "()<()"
    case _: Restriction.LteTuple => "()<=()"
    case _: Restriction.GtTuple => "()>()"
    case _: Restriction.GteTuple => "()>=()"
  }

  private def restrictionNode(
      types: Map[String, NativeType], r: Restriction): ObjectNode = {
    val n = mapper.createObjectNode()
    n.put("type", wireTag(r))
    def one(c: String, v: Any): Unit = {
      n.put("lhs", c)
      n.set("rhs", valueNode(JsonValues.toJson(normalize(v), colType(types, c))))
      ()
    }
    def tup(cs: Seq[String], vs: Seq[Any]): Unit = {
      val lhs = n.putArray("lhs"); cs.foreach(lhs.add)
      val rhs = n.putArray("rhs")
      cs.zip(vs).foreach { case (c, v) =>
        rhs.add(valueNode(JsonValues.toJson(normalize(v), colType(types, c))))
      }
    }
    r match {
      case Restriction.Eq(c, v) => one(c, v)
      case Restriction.Lt(c, v) => one(c, v)
      case Restriction.Lte(c, v) => one(c, v)
      case Restriction.Gt(c, v) => one(c, v)
      case Restriction.Gte(c, v) => one(c, v)
      case Restriction.In(c, vs) =>
        n.put("lhs", c)
        val rhs = n.putArray("rhs")
        vs.foreach(v => rhs.add(valueNode(JsonValues.toJson(normalize(v), colType(types, c)))))
      case Restriction.EqTuple(cs, vs) => tup(cs, vs)
      case Restriction.LtTuple(cs, vs) => tup(cs, vs)
      case Restriction.LteTuple(cs, vs) => tup(cs, vs)
      case Restriction.GtTuple(cs, vs) => tup(cs, vs)
      case Restriction.GteTuple(cs, vs) => tup(cs, vs)
      case Restriction.InTuple(cs, vss) =>
        val lhs = n.putArray("lhs"); cs.foreach(lhs.add)
        val rhs = n.putArray("rhs")
        vss.foreach { vs =>
          val t = rhs.addArray()
          cs.zip(vs).foreach { case (c, v) =>
            t.add(valueNode(JsonValues.toJson(normalize(v), colType(types, c))))
          }
        }
    }
    n
  }

  /** Encode a `PostIndexAnnRequest` — the exact body [[parseAnnRequest]]
    * decodes, typed values through try_to_json. Round-trip is identity
    * (property-pinned in WireSpec). */
  def annRequestJson(req: AnnRequest, types: Map[String, NativeType]): String = {
    val root = mapper.createObjectNode()
    val vec = root.putArray("vector")
    req.vector.foreach(vec.add)
    root.put("limit", req.limit)
    if (req.restrictions.nonEmpty || req.allowFiltering) {
      val f = root.putObject("filter")
      val rs = f.putArray("restrictions")
      req.restrictions.foreach(r => rs.add(restrictionNode(types, r)))
      f.put("allow_filtering", req.allowFiltering)
    }
    mapper.writeValueAsString(root)
  }

  /** Encode a `PostIndexBm25Request`. */
  def bm25RequestJson(query: String, limit: Int): String = {
    val root = mapper.createObjectNode()
    root.put("query", query)
    root.put("limit", limit)
    mapper.writeValueAsString(root)
  }

  /** f32 saturation for wire floats (serialize_saturated_f32,
    * httpapi/src/lib.rs:397-409): ±inf pins to ±f32::MAX. NaN survives
    * saturation; [[addSaturated]] encodes it as JSON `null` — what
    * serde_json emits for a non-finite float — never the non-standard
    * string `"NaN"` Jackson would otherwise produce. */
  def saturate(d: Double): Float = {
    if (d.isNaN) Float.NaN
    else if (d > Float.MaxValue) Float.MaxValue
    else if (d < Float.MinValue) Float.MinValue
    else d.toFloat
  }

  private def addSaturated(arr: com.fasterxml.jackson.databind.node.ArrayNode,
      d: Double): Unit = {
    val f = saturate(d)
    if (f.isNaN) arr.add(mapper.nullNode()) else arr.add(f)
  }

  private def valueNode(v: Any): JsonNode = v match {
    case null => mapper.nullNode()
    case s: String => mapper.getNodeFactory.textNode(s)
    case b: Boolean => mapper.getNodeFactory.booleanNode(b)
    case l: java.lang.Long => mapper.getNodeFactory.numberNode(l.longValue())
    case d: java.lang.Double => mapper.getNodeFactory.numberNode(d.doubleValue())
    case n: Number => mapper.getNodeFactory.numberNode(
      new java.math.BigDecimal(n.toString))
    case other => fail(s"cannot serialize: $other")
  }

  /** Encode a `PostIndexAnnResponse`: columnar primary keys (typed through
    * try_to_json), f32-saturated distances and similarity scores, element
    * order = ascending (distance, pk…) — the order and saturation
    * `ResultFormat.transpose` pins, applied on the driver to the ≤k
    * collected rows ([[ResultFormat.transposedRows]]). */
  def annResponseJson(
      results: DataFrame, pkCols: Seq[String],
      types: Map[String, NativeType]): String = {
    val rows = ResultFormat.transposedRows(results, pkCols)
    val root = mapper.createObjectNode()
    val pks = root.putObject("primary_keys")
    pkCols.zipWithIndex.foreach { case (c, j) =>
      val arr = pks.putArray(c)
      rows.foreach { r =>
        arr.add(valueNode(JsonValues.toJson(normalize(r.get(j + 1)), colType(types, c))))
      }
    }
    def floats(field: Int, arr: ArrayNode): Unit =
      rows.foreach(r => addSaturated(arr, r.getDouble(field)))
    floats(0, root.putArray("distances"))
    floats(pkCols.length + 1, root.putArray("similarity_scores"))
    mapper.writeValueAsString(root)
  }

  /** Encode a `PostIndexBm25Response`: columnar primary keys + f32 scores,
    * ordered (score desc, pk asc) like the served frame. */
  def bm25ResponseJson(
      results: DataFrame, pkCol: String,
      types: Map[String, NativeType]): String = {
    val rows = ResultFormat.collectRows(results)
    val root = mapper.createObjectNode()
    val pks = root.putObject("primary_keys").putArray(pkCol)
    val scores = root.putArray("scores")
    rows.foreach { r =>
      pks.add(valueNode(JsonValues.toJson(normalize(r.get(r.fieldIndex(pkCol))),
        colType(types, pkCol))))
      addSaturated(scores, r.getDouble(r.fieldIndex("score")))
    }
    mapper.writeValueAsString(root)
  }

  /** Error body for the reference's HTTP taxonomy (404/400/503 with a
    * message — httproutes.rs error responses). */
  def errorJson(e: QueryException): String = {
    val root = mapper.createObjectNode()
    root.put("status", e.status)
    root.put("message", e.getMessage)
    mapper.writeValueAsString(root)
  }
}
