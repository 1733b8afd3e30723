package graft.config

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The component tables: a repeated name can neither shadow nor
  * override an entry, and one resolver reads every component node.
  */
class ComponentTableSpec extends AnyFunSuite {

  private val json = new ObjectMapper()

  private def family(entries: Seq[(String, Int)]*) =
    new Component.Family[Int]("output", attaches = true,
      other => s"output '$other' not supported")(entries: _*)

  test("a table with a repeated name fails to build") {
    val e = intercept[IllegalArgumentException] {
      family(Seq("kafka" -> 1, "redpanda" -> 1), Seq("opensearch" -> 2),
        Seq("qdrant" -> 3, "opensearch" -> 4))
    }
    assert(e.getMessage.contains("repeated names opensearch"), e.getMessage)
  }

  test("resolve reads the kind past label and processors, else the family's error") {
    val f = family(Seq("kafka" -> 1))
    f.resolve(json.readTree(
        """{"label": "in", "kafka": {"topic": "t"}, "processors": []}"""),
        Map.empty) match {
      case Component.Found(entry, node) =>
        assert(entry == 1 && node.kind == "kafka" &&
          node.body.path("topic").asText == "t" && node.attached.isEmpty)
      case other => fail(s"expected the kafka entry, got $other")
    }
    val e = intercept[IllegalArgumentException] {
      f.resolve(json.readTree("""{"nope": {}}"""), Map.empty)
    }
    assert(e.getMessage == "output 'nope' not supported")
  }
}
