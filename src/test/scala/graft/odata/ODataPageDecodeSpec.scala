package graft.odata

import scala.jdk.CollectionConverters._
import scala.util.Random
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.odata.ODataClient
import graft.sources.odata.ODataClient.Page

/** `ODataClient.parsePage` against the tree decode it replaced, written
  * out below as it was: the same rows, links and errors on generated
  * pages of every envelope, and with a field set, each row the tree
  * decode's row restricted to that set.
  */
class ODataPageDecodeSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()

  private def treeRow(row: JsonNode): Map[String, String] =
    row.properties().asScala.map { e =>
      val v = e.getValue
      val s =
        if (v.isNull) null
        else if (v.isValueNode) v.asText()
        else v.toString
      e.getKey -> s
    }.toMap

  private def treeDecode(body: String, base: String): Page = {
    def abs(link: String): String = ODataClient.resolveLink(base, link)
    val root = mapper.readTree(body)
    val d = root.path("d")
    val (results, next) =
      if (!d.isMissingNode && d.has("results"))
        (d.path("results"), Option(d.get("__next")).map(_.asText()))
      else if (root.has("value"))
        (root.path("value"),
          Option(root.get("@odata.nextLink")).orElse(Option(root.get("odata.nextLink"))).map(_.asText()))
      else if (!d.isMissingNode && d.isArray) (d, None)
      else throw new IllegalArgumentException(
        s"Unrecognized OData envelope: ${body.take(200)}")
    val rows = results.elements().asScala.map(treeRow).toSeq
    val delta = Option(root.get("@odata.deltaLink"))
      .orElse(Option(root.get("odata.deltaLink"))).map(_.asText())
    Page(rows, next.filter(_.nonEmpty).map(abs), delta.filter(_.nonEmpty).map(abs))
  }

  private val base = "http://127.0.0.1:8080/sap/byd/odata/analytics.svc/Entity?%24top=7"
  private val names = Seq("A", "B", "C0CHAR_STRUCTURE", "__metadata", "Nav", "Nav@odata.nextLink", "é")

  // JSON literals of every kind, as a server may write them
  private val scalars = Seq("\"plain\"", "\"\"", "\"caf\\u00e9 \\u4e2d\\ud83d\\ude00\"",
    "\"quote \\\" back \\\\ slash\\n\\t\"", "\"/Date(1704067200000)/\"", "0", "-0", "7", "-42",
    "2147483648", "-9223372036854775808", "1180591620717411303424", "-0.0", "1.5",
    "0.1", "1e10", "1E-7", "-2.5e+300", "3.141592653589793238", "123456789012345678.0",
    "true", "false", "null")
  private val nested = Seq("{}", "[]",
    "{\"uri\": \"https://h/svc/E('1')\", \"type\": \"sapbyd.Q\"}",
    "{\"a\": 1, \"b\": [1, 2.50, -0, 1e3, null, true], \"a\": {\"x\": \"\\u00e9\"}}",
    "[{\"k\": \"v\"}, [], \"s\", 1E2, false]",
    "{\"results\": [{\"F\": \"1\"}], \"__next\": \"/svc/Nav?$skiptoken=1\"}")

  private def value(rng: Random): String =
    if (rng.nextInt(4) == 0) nested(rng.nextInt(nested.size)) else scalars(rng.nextInt(scalars.size))

  private def obj(entries: Seq[(String, String)]): String =
    entries.map { case (k, v) => s"${mapper.writeValueAsString(k)}: $v" }.mkString("{", ", ", "}")

  // a row: some fields, sometimes one of them twice
  private def row(rng: Random): String = {
    val fields = rng.shuffle(names).take(rng.nextInt(names.size + 1)).map(k => k -> value(rng))
    val dup = if (fields.nonEmpty && rng.nextInt(4) == 0) Seq(fields.head._1 -> value(rng)) else Nil
    obj(fields ++ dup)
  }

  private def link(rng: Random): String = mapper.writeValueAsString(rng.nextInt(4) match {
    case 0 => "http://127.0.0.1:8080/sap/byd/odata/analytics.svc/Entity?$skiptoken=7"
    case 1 => "/sap/byd/odata/analytics.svc/Entity?$skiptoken=14"
    case 2 => "Entity?$skip=21&$top=7"
    case _ => ""
  })

  private def page(rng: Random): String = {
    val rows = Seq.fill(rng.nextInt(5))(row(rng)).mkString("[", ", ", "]")
    def some(kvs: (String, String)*): Seq[(String, String)] = kvs.filter(_ => rng.nextBoolean())
    val root = rng.nextInt(3) match {
      case 0 => // v2, the continuation on either side of the rows
        Seq("d" -> obj(rng.shuffle(Seq("results" -> rows) ++ some("__next" -> link(rng), "__count" -> "\"3\""))))
      case 1 => // v4, with either spelling of the annotations
        Seq("value" -> rows) ++ some("@odata.nextLink" -> link(rng), "odata.nextLink" -> link(rng),
          "@odata.deltaLink" -> link(rng), "odata.deltaLink" -> link(rng), "@odata.context" -> "\"$metadata#E\"")
      case _ => // v2 minimal
        Seq("d" -> rows)
    }
    obj(rng.shuffle(root))
  }

  private def assertSame(body: String, fields: Option[Set[String]] = None): Unit = {
    val want = treeDecode(body, base)
    val got = ODataClient.parsePage(body, base, fields)
    assert(got.nextLink == want.nextLink, body)
    assert(got.deltaLink == want.deltaLink, body)
    val rows = fields.fold(want.rows)(fs => want.rows.map(_.filter { case (k, _) => fs.contains(k) }))
    assert(got.rows == rows, body)
  }

  test("generated v2, v4 and minimal pages decode to the tree decode's rows and links") {
    val rng = new Random(20261020L)
    for (_ <- 1 to 400) {
      val body = page(rng)
      assertSame(body)
      assertSame(body, Some(Set("C0CHAR_STRUCTURE")))
      assertSame(body, Some(rng.shuffle(names).take(rng.nextInt(names.size)).toSet))
    }
  }

  test("every scalar and nested literal keeps the tree decode's text") {
    for (v <- scalars ++ nested) {
      assertSame(s"""{"d": {"results": [{"A": $v, "B": "x"}]}}""")
      assertSame(s"""{"value": [{"B": "x", "A": $v}]}""", Some(Set("A")))
    }
    // the forms the tree gives for the numbers a string compare would miss
    val row = ODataClient.parsePage("""{"value": [{"a": 1e10, "b": -0, "c": -0.0, "d": 1180591620717411303424}]}""")
      .rows.head
    assert(row == Map("a" -> "1.0E10", "b" -> "0", "c" -> "-0.0", "d" -> "1180591620717411303424"))
  }

  test("envelope edge cases: precedence, repeated keys, odd results values, empty pages") {
    val bodies = Seq(
      """{"d": {"results": []}}""",
      """{"d": []}""",
      """{"value": []}""",
      """{"d": {"__next": "/svc/E?$skiptoken=2", "results": [{"A": "1"}]}}""",
      """{"value": [{"A": "v4"}], "d": {"results": [{"A": "v2"}]}}""",
      """{"d": [{"A": "minimal"}], "value": [{"A": "v4"}]}""",
      """{"d": {"results": [{"A": "first"}]}, "d": [{"A": "second"}]}""",
      """{"d": {"results": [{"A": "1"}], "results": [{"A": "2"}], "__next": "a", "__next": "b"}}""",
      """{"value": [{"A": "1", "A": "2", "B": null, "B": "3"}], "@odata.nextLink": "x", "odata.nextLink": "y"}""",
      """{"value": [], "odata.nextLink": "y", "odata.deltaLink": "z", "@odata.deltaLink": "w"}""",
      """{"d": {"results": null, "__next": null}}""",
      """{"d": {"results": 5, "__next": {"a": 1}}}""",
      """{"value": null, "@odata.nextLink": 7}""",
      """{"d": {"results": {"x": {"A": "1"}, "y": {"A": "2"}, "x": {"A": "3"}}}}""",
      """{"value": [1, "s", null, [1, 2], {"A": "1"}, {}]}""",
      """{"d": {"results": [{"A": "1"}]}} trailing""")
    for (b <- bodies) {
      assertSame(b)
      assertSame(b, Some(Set("A")))
    }
  }

  test("an unrecognized envelope fails with the tree decode's message") {
    val bodies = Seq("", "null", "5", "\"d\"", "[1, 2]", "{}", """{"x": 1}""",
      """{"d": {"foo": []}}""", """{"d": 5}""", """{"d": null}""",
      """{"D": {"results": []}, "Value": []}""",
      "{\"d\": {\"other\": \"" + "x" * 300 + "\"}}")
    for (b <- bodies) {
      val want = intercept[IllegalArgumentException](treeDecode(b, base))
      val got = intercept[IllegalArgumentException](ODataClient.parsePage(b, base))
      assert(got.getMessage == want.getMessage, b)
      val narrow = intercept[IllegalArgumentException](ODataClient.parsePage(b, base, Some(Set("A"))))
      assert(narrow.getMessage == want.getMessage, b)
    }
  }
}
