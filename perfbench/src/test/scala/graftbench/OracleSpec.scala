package graftbench

import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.cdc.{Config, Pipeline}

/** The oracle against graft's own route on generated envelopes that
  * include deletes, malformed values and overlapping rules.
  */
class OracleSpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()

  test("the oracle's first match agrees with Pipeline.route row by row") {
    val gen = new CdcGen(5)
    val router = new Router(gen.rules)
    val es = (0L until 6000L).map(gen.envelope)
    assert(es.exists(_.malformed) && es.exists(e => e.op == 'd' && !e.malformed))
    val expected = es.flatMap(e => router.forwardTarget(e).map(t => (t, new String(e.value, "UTF-8"))))
    // overlapping rules decide at least one target
    val decidedByOrder = es.filterNot(_.malformed).exists { e =>
      gen.rules.count(r => r.topic == e.topic && r.db == e.db &&
        java.util.regex.Pattern.compile(r.tableRegex).matcher(e.table).find()) > 1
    }
    assert(decidedByOrder)

    val enc = Encoders.tuple(Encoders.STRING, Encoders.BINARY, Encoders.BINARY)
    val raw = spark.createDataset(es.map(e => (e.topic, e.key, e.value)))(enc).toDF("topic", "key", "value")
    val got = Pipeline.route(raw, Config.fromString(gen.yaml).rules)
      .select(col("target_topic"), col("value").cast("string")).collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(got.sorted == expected.sorted)

    // the observed checksum equals the oracle's, and Spark's xxhash64 the driver's
    val t = BulkLadder.observedPass(raw, Config.fromString(gen.yaml).rules)
    val want = es.map(e => Tally.of(e, router)).reduce(_ + _)
    assert(want.failures(t) == 0, s"observed $t, expected $want")
    val e = es.find(x => router.forwardTarget(x).isDefined).get
    val sparkHash = spark.createDataset(Seq((router.forwardTarget(e).get, e.key, e.value)))(enc)
      .select(xxhash64(col("_1"), col("_2"), col("_3"))).head().getLong(0)
    assert(sparkHash == Checksum.xxhash64(router.forwardTarget(e).get, e.key, e.value))
  }
}
