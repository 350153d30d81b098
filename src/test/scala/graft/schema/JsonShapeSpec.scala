package graft.schema

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funspec.AnyFunSpec

class JsonShapeSpec extends AnyFunSpec {

  describe("JsonShape.of") {
    it("extracts nested object shape (typed)") {
      assert(JsonShape.of("""{"a": 1, "b": {"c": [1.5, 2.5]}, "d": true}""", typed = true) ==
        Some(JStruct(Vector(
          "a" -> JLong,
          "b" -> JStruct(Vector("c" -> JArr(JDouble))),
          "d" -> JBool))))
    }
    it("collapses primitives to STRING in hive mode (CreateHQL.scala:81)") {
      assert(JsonShape.of("""{"a": 1, "b": true}""", typed = false) ==
        Some(JStruct(Vector("a" -> JStr, "b" -> JStr))))
    }
    it("merges ALL array elements (divergence from head-only CreateHQL.scala:55)") {
      assert(JsonShape.of("""[{"a": 1}, {"b": 2}]""", typed = true) ==
        Some(JArr(JStruct(Vector("a" -> JLong, "b" -> JLong)))))
    }
    it("rejects trailing garbage (stricter than org.json's tokener)") {
      assert(JsonShape.of("""{"a": 1} trailing""", typed = false).isEmpty)
      assert(JsonShape.of("""{"a": 1}{"b": 2}""", typed = false).isEmpty)
    }
    it("rejects non-JSON and empty input") {
      assert(JsonShape.of("ThisIsNotJSON", typed = false).isEmpty)
      assert(JsonShape.of("", typed = false).isEmpty)
      assert(JsonShape.of(null, typed = false).isEmpty)
    }
    it("keeps one field per repeated key, shaped as the merge of its values") {
      assert(JsonShape.of("""{"a": 1, "b": 2, "a": 2}""", typed = false) ==
        Some(JStruct(Vector("a" -> JStr, "b" -> JStr))))
      assert(JsonShape.of("""{"a": 1, "a": 2.5}""", typed = true) ==
        Some(JStruct(Vector("a" -> JDouble))))
      assert(JsonShape.of("""{"s": {"x": 1}, "a": null, "s": {"y": true}, "a": [1]}""",
          typed = true) ==
        Some(JStruct(Vector(
          "s" -> JStruct(Vector("x" -> JLong, "y" -> JBool)),
          "a" -> JArr(JLong)))))
      // the nested object's keys are checked on their own
      assert(JsonShape.of("""{"o": {"k": 1, "k": "v"}}""", typed = true) ==
        Some(JStruct(Vector("o" -> JStruct(Vector("k" -> JStr))))))
    }
    it("treats an empty array as ARRAY<STRING> evidence") {
      assert(JsonShape.of("""{"a": []}""", typed = false) ==
        Some(JStruct(Vector("a" -> JArr(JNull)))))
    }
  }

  describe("round-trip against an independent JSON model (ScalaCheck)") {
    // Tiny independent JSON AST + renderer + expected-shape function —
    // a second implementation of the lattice to check the Jackson
    // streaming path against.
    sealed trait JV
    case object VNull extends JV
    case class VBool(b: Boolean) extends JV
    case class VInt(n: Long) extends JV
    case class VDbl(d: Double) extends JV
    case class VStr(s: String) extends JV
    case class VArr(items: List[JV]) extends JV
    case class VObj(fields: List[(String, JV)]) extends JV

    def render(v: JV): String = v match {
      case VNull => "null"
      case VBool(b) => b.toString
      case VInt(n) => n.toString
      case VDbl(d) => d.toString
      case VStr(s) => "\"" + s + "\""
      case VArr(xs) => xs.map(render).mkString("[", ",", "]")
      case VObj(fs) => fs.map { case (k, x) => "\"" + k + "\":" + render(x) }
        .mkString("{", ",", "}")
    }
    def shape(v: JV, typed: Boolean): JType = v match {
      case VNull    => JNull
      case VBool(_) => if (typed) JBool else JStr
      case VInt(_)  => if (typed) JLong else JStr
      case VDbl(_)  => if (typed) JDouble else JStr
      case VStr(_)  => JStr
      case VArr(xs) => JArr(
        xs.map(shape(_, typed)).foldLeft(JNull: JType)(JType.merge(_, _, typed)))
      case VObj(fs) =>
        fs.foldLeft(JStruct(Vector()): JType) { case (acc, (k, x)) =>
          JType.merge(acc, JStruct(Vector(k -> shape(x, typed))), typed)
        }
    }

    val keyGen = Gen.oneOf("a", "b", "cc", "d1")
    val strGen = Gen.alphaNumStr.map(_.take(6))
    def jvGen(depth: Int): Gen[JV] =
      if (depth == 0)
        Gen.oneOf(Gen.const(VNull), Gen.oneOf(true, false).map(VBool),
          Gen.choose(-5L, 5L).map(VInt), Gen.const(VDbl(1.5)), strGen.map(VStr))
      else Gen.frequency(
        3 -> jvGen(0),
        2 -> Gen.lzy(Gen.listOfN(2, jvGen(depth - 1)).map(VArr)),
        3 -> Gen.lzy(Gen.listOfN(3, Gen.zip(keyGen, jvGen(depth - 1)))
          .map(fs => VObj(fs.distinctBy(_._1)))))

    it("parses any rendered JSON value to exactly the model's shape") {
      val prop = Prop.forAll(jvGen(3), Gen.oneOf(true, false)) { (v, typed) =>
        JsonShape.of(render(v), typed).contains(shape(v, typed))
      }
      val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(500), prop)
      assert(r.passed, r.status.toString)
    }
  }

  describe("JsonShape.ofRecord") {
    it("poisons top-level non-objects to JTop (vs reference ERROR DDL)") {
      assert(JsonShape.ofRecord("[1,2]", typed = false) == JTop)
      assert(JsonShape.ofRecord("42", typed = false) == JTop)
      assert(JsonShape.ofRecord("garbage", typed = false) == JTop)
    }
    it("accepts top-level objects") {
      assert(JsonShape.ofRecord("""{"k": 7}""", typed = false) ==
        JStruct(Vector("k" -> JStr)))
    }
  }
}
