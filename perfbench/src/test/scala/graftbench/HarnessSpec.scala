package graftbench

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own pure parts: generators, percentile rule, chunk to
  * micro-batch mapping and span arithmetic.
  */
class HarnessSpec extends AnyFunSuite {

  test("the envelope generator is deterministic per seed") {
    val a = new CdcGen(7)
    val b = new CdcGen(7)
    val c = new CdcGen(8)
    assert(a.yaml == b.yaml)
    for (i <- Seq(0L, 1L, 999L, 123456789L)) {
      val (x, y) = (a.envelope(i), b.envelope(i))
      assert(x.topic == y.topic && x.key.sameElements(y.key) && x.value.sameElements(y.value))
    }
    assert((0L until 50L).exists(i => !a.envelope(i).value.sameElements(c.envelope(i).value)))
    assert(a.yaml != c.yaml)
  }

  test("the training generators are deterministic per seed") {
    assert(TrainGen.documents(3, 400, 0.1) == TrainGen.documents(3, 400, 0.1))
    assert(TrainGen.documents(3, 400, 0.1) != TrainGen.documents(4, 400, 0.1))
    val (v1, v2) = (TrainGen.embeddings(3, 50), TrainGen.embeddings(3, 50))
    assert(v1.map(v => (v.vecId, v.label, v.embedding.toSeq)) == v2.map(v => (v.vecId, v.label, v.embedding.toSeq)))
  }

  test("generated envelopes have the intended mix") {
    val g = new CdcGen(11)
    val es = (0L until 20000L).map(g.envelope)
    val deletes = es.count(e => !e.malformed && e.op == 'd').toDouble / es.size
    val malformed = es.count(_.malformed).toDouble / es.size
    assert(deletes > 0.08 && deletes < 0.12, s"delete share $deletes")
    assert(es.exists(_.op == 'r'))
    assert(malformed > 0.002 && malformed < 0.01, s"malformed share $malformed")
    val sizes = es.filterNot(_.malformed).map(_.value.length)
    assert(sizes.min < 500 && sizes.max > 2000, s"envelope sizes ${sizes.min}..${sizes.max}")
    val top = es.groupBy(e => (e.topic, e.db, e.table)).values.map(_.size).max
    assert(top > es.size / 20, "the (topic, db, table) mix is not skewed")
    assert(g.rules.size == 32)
    val cfg = graft.cdc.Config.fromString(g.yaml).rules
    assert(cfg.map(r => Rule(r.sourceTopic, r.db, r.tableRegex, r.targetTopic)) == g.rules)
  }

  test("the percentile rule keeps at least ten samples beyond the percentile") {
    assert(Stats.highestSupported(19).isEmpty)
    assert(Stats.highestSupported(20).contains(50.0))
    assert(Stats.highestSupported(100).contains(90.0))
    assert(Stats.highestSupported(999).contains(90.0))
    assert(Stats.highestSupported(1000).contains(99.0))
    assert(Stats.highestSupported(10000).contains(99.9))
    assert(Stats.percentile(Seq(1.0, 2.0, 3.0, 4.0), 50) == 2.5)
    assert(Stats.percentile(Seq(5.0, 1.0, 3.0), 0) == 1.0)
    assert(Stats.percentile((1 to 101).map(_.toDouble), 99) == 100.0)
  }

  test("each chunk maps to the micro-batch whose offset range holds it") {
    val batches = Seq(
      BatchSpan(2, 4, 9, 300.0), // out of order on purpose
      BatchSpan(0, -1, 1, 100.0),
      BatchSpan(1, 1, 4, 200.0),
      BatchSpan(3, 9, 9, 999.0)) // empty range: holds nothing
    val done = Latency.completion(Array(0L, 1L, 2L, 4L, 5L, 9L, 10L), batches)
    assert(done.take(6).toSeq == Seq(100.0, 100.0, 200.0, 200.0, 300.0, 300.0))
    assert(done(6).isNaN, "a chunk past the last batch has no completion")
    assert(Latency.offset(null) == -1L && Latency.offset("null") == -1L && Latency.offset(" 42") == 42L)
  }

  test("the harness emits exactly the metrics BENCHMARK.json declares, with their units") {
    val json = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File("../BENCHMARK.json"))
    def declared(key: String): Map[String, String] =
      json.get(key).elements().asScala.map(m => m.get("name").asText() -> m.get("unit").asText()).toMap
    assert(declared("per_layer") == Layers.Units)
    assert(declared("end_to_end").keySet == Main.EndToEnd.toSet)
  }

  test("self time subtracts the union of child spans") {
    assert(Tracer.unionMs(Seq((0.0, 10.0), (5.0, 15.0), (20.0, 25.0), (21.0, 22.0))) == 20.0)
    val tr = new Tracer("t")
    tr.span("parent") {
      tr.span("a")(Thread.sleep(20))
      tr.span("b")(Thread.sleep(20))
    }
    val p = tr.all("parent").head
    val self = tr.selfMs(p)
    val wall = p.endMs - p.startMs
    assert(self >= 0 && self < wall - 35, s"self $self of $wall")
  }
}
