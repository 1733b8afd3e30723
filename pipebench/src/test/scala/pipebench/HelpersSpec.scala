package pipebench

import org.scalatest.funsuite.AnyFunSuite

class HelpersSpec extends AnyFunSuite {

  test("tail percentile: the highest one with at least ten samples beyond") {
    assert(Stats.tailQuantile(99).isEmpty)
    assert(Stats.tailQuantile(100).contains(0.9))
    assert(Stats.tailQuantile(199).contains(0.9))
    assert(Stats.tailQuantile(200).contains(0.95))
    assert(Stats.tailQuantile(1000).contains(0.99))
    assert(Stats.tailQuantile(9999).contains(0.99))
    assert(Stats.tailQuantile(10000).contains(0.999))
    val xs = (1 to 1000).map(_.toDouble)
    assert(Stats.tail(xs) == ((0.99, 990.0)))
    // too few samples for any percentile: the maximum, flagged as q = 1
    assert(Stats.tail(Seq(3.0, 1.0, 2.0)) == ((1.0, 3.0)))
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("latency attribution: offset -> the micro-batch that covered it") {
    import Attribution._
    val batches = Seq(
      Batch(Map.empty, Map(0 -> 3L, 1 -> 2L), completedMs = 100.0),
      Batch(Map(0 -> 3L, 1 -> 2L), Map(0 -> 5L, 1 -> 2L), completedMs = 250.0))
    val sent = Seq(
      Sent(0, 0L, 10.0), // first batch
      Sent(0, 4L, 200.0), // second batch
      Sent(1, 1L, 50.0), // first batch, other partition
      Sent(1, 2L, 60.0), // produced after every batch's range: uncovered
      Sent(0, 5L, 70.0), // one past the last range end: uncovered
      Sent(2, 0L, 80.0)) // a partition no batch read: uncovered
    val lat = latencies(batches, sent)
    assert(lat.take(3).toSeq == Seq(90.0, 50.0, 50.0))
    assert(lat.drop(3).forall(_.isNaN))
  }

  test("checker counts one planted wrong, missing and duplicated record each once") {
    val expected = Map("1" -> "a", "2" -> "b", "3" -> "c", "4" -> "d")
    val delivered = Seq("1" -> "a", "2" -> "WRONG", "4" -> "d", "4" -> "d")
    val v = Check.compare(expected, delivered)
    assert(v == Check.Verdict(attempted = 4, wrong = 1, missing = 1, duplicated = 1))
    assert(v.failed == 3)
    assert(Check.compare(expected, expected.toSeq).failed == 0)
    // a record nobody expected is wrong too
    assert(Check.compare(expected, expected.toSeq :+ ("9" -> "z")).wrong == 1)
  }

  test("a message no micro-batch covered fails once, however else it failed") {
    val expected = Map("1" -> "a", "2" -> "b", "3" -> "c", "4" -> "d")
    // 2: delivered right but uncovered; 3: never delivered and uncovered;
    // 4: delivered wrong and uncovered
    val delivered = Seq("1" -> "a", "2" -> "b", "4" -> "WRONG")
    val v = Check.compare(expected, delivered, uncovered = Set("2", "3", "4"))
    assert(v == Check.Verdict(attempted = 4, wrong = 1, missing = 2, duplicated = 0))
    assert(v.failed == 3)
  }

  test("reference mapping, catch record and route on hand-worked messages") {
    val msg = """{"id":7,"customer":"cust-12","region":"eu-west","status":"paid",""" +
      """"ts":1700000000259,"items":[{"sku":"SKU-1","qty":2,"unit_cents":1500},""" +
      """{"sku":"SKU-2","qty":3,"unit_cents":20000}],"note":"x"}"""
    // 2 × 1500 + 3 × 20000 = 63000 >= 50000
    assert(Reference.canon(Reference.etlOutput("7", msg)) ==
      """{"customer":"CUST-12","n_items":2,"order_id":7,"region":"eu-west",""" +
        """"route":"priority","total_cents":63000,"ts":1700000000259}""")
    val cheap = msg.replace("\"qty\":3", "\"qty\":1") // 3000 + 20000
    assert(Reference.etlOutput("7", cheap).get("route").asText == "standard")
    val bad = """{"id":7,"cust"""
    assert(Reference.canon(Reference.etlOutput("7", bad)) ==
      """{"dead_letter":true,"order_id":7,"raw":"{\"id\":7,\"cust","route":"dlq"}""")
    assert(Reference.parseObject(msg + " {}").isEmpty, "trailing content is not JSON")
    assert(Reference.canon(Reference.parseObject("""{"b":5.0,"a":[1E0]}""").get) ==
      """{"a":[1],"b":5}""")
  }

  test("generated malformed orders are exactly the ones no parser accepts") {
    val orders = Gen.orders(seed = 3, n = 2000, malformedFrac = 0.02)
    assert(orders.forall(o => Reference.parseObject(o.value).isEmpty == o.malformed))
    val bad = orders.count(_.malformed)
    assert(bad > 20 && bad < 70, s"$bad malformed of 2000")
    assert(Gen.orders(3, 50, 0.02).toSeq == Gen.orders(3, 50, 0.02).toSeq,
      "same seed, same inputs")
  }

  test("exact Jaccard reference on a hand-worked corpus") {
    val docs = Seq(
      Gen.Doc(1, "a b c d e"), Gen.Doc(2, "a b c d f"),
      Gen.Doc(3, "x y z"), Gen.Doc(4, "A  B C D E"), Gen.Doc(5, "p q"))
    // 4 is an exact duplicate of 1 (case and spacing aside); 1 and 2
    // share {a b c, b c d} of four distinct 3-shingles: J = 0.5; 5 is
    // shorter than a shingle
    val r = Reference.dedup(docs, shingleN = 3, threshold = 0.5)
    assert(r.pairs == Map((1L, 2L) -> 0.5))
    assert(r.kept == Set(1L, 3L, 5L))
    assert(Reference.dedup(docs, 3, 0.51).pairs.isEmpty)
  }
}
