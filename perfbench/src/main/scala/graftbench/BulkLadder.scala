package graftbench

import org.apache.spark.sql.{DataFrame, Encoders, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.cdc.{Config, Parse, Pipeline, Routing}

/** The CDC kernels without micro-batches, for the traced `cdc_stream`
  * run: envelopes written once as one parquet file per core, then one
  * Spark job per pass up the ladder scan → `Parse.parse` →
  * `Pipeline.routeParsed` (over a cached parse) → `Pipeline.route` → the
  * observed pass (`Pipeline.routeInstrumented` with the observations
  * `Pipeline.routeObservedRun` attaches, the forwarded one carrying the
  * oracle checksum), and the observed pass again on one core.
  */
object BulkLadder {
  val Envelopes = 400000L
  val OneCoreSlice = 100000L

  /** Write envelopes [from, until) as `files` parquet files; returns the
    * oracle's tally of them, computed while generating.
    */
  def write(spark: SparkSession, gen: CdcGen, from: Long, until: Long, files: Int,
            dir: String): Tally = {
    val router = new Router(gen.rules)
    val acc = Seq.fill(5)(spark.sparkContext.longAccumulator)
    val enc = Encoders.tuple(Encoders.STRING, Encoders.BINARY, Encoders.BINARY)
    spark.range(from, until, 1, files).mapPartitions { it =>
      var t = Tally.Zero
      val rows = it.map { i =>
        val e = gen.envelope(i)
        t = t + Tally.of(e, router)
        (e.topic, e.key, e.value)
      }
      new Iterator[(String, Array[Byte], Array[Byte])] {
        private var open = true
        def hasNext: Boolean = rows.hasNext || {
          if (open) {
            Seq(t.consumed, t.parseErrors, t.deletes, t.forwarded, t.hashSum).zip(acc)
              .foreach { case (v, a) => a.add(v) }
            open = false
          }
          false
        }
        def next(): (String, Array[Byte], Array[Byte]) = rows.next()
      }
    }(enc).toDF("topic", "key", "value").write.mode("overwrite").parquet(dir)
    Tally(acc(0).value, acc(1).value, acc(2).value, acc(3).value, acc(4).value)
  }

  /** One observed forwarding pass into the noop sink; returns what the
    * observations saw.
    */
  def observedPass(raw: DataFrame, rules: Seq[Routing.TransformRule]): Tally = {
    val consumed = Observation("bench_consumed")
    val forwarded = Observation("bench_forwarded")
    val c = Checksum.consumedCols
    val f = Checksum.forwardedCols
    Pipeline.routeInstrumented(raw, rules)(
      _.observe(consumed, c.head, c.tail: _*), _.observe(forwarded, f.head, f.tail: _*))
      .write.format("noop").mode("overwrite").save()
    val m = consumed.get ++ forwarded.get
    Tally.observed(k => m(k) match { case null => 0L; case n: Number => n.longValue() })
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Run the ladder on `spark` (which it stops) and on a fresh one-core
    * session, which it returns.
    */
  def run(o: Opts, tr: Tracer, r: Result, gen: CdcGen, spark: SparkSession): SparkSession = {
    val data = s"${o.work}/envelopes"
    val slice = s"${o.work}/envelopes_slice"
    val expect = write(spark, gen, 0, Envelopes, o.cores, data) // not timed
    val expectSlice = write(spark, gen, Envelopes, Envelopes + OneCoreSlice, 1, slice)
    val rules = Config.fromString(gen.yaml).rules
    val raw = () => spark.read.parquet(data)
    Main.log(s"bulk ladder: $Envelopes envelopes written")

    def rps(label: String, rows: Long)(body: => Unit): Double = {
      tr.span(label)(body) // warm
      rows / Stats.median((1 to 2).map { _ => tr.span(label)(body); tr.seconds(label) })
    }
    var seen = Tally.Zero
    val observed = rps("bulk_observed", Envelopes) {
      seen = observedPass(raw(), rules)
      r.check("bulk observed pass", expect.consumed, expect.failures(seen))
    }
    r.layer("bulk.scan_rps", rps("bulk_scan", Envelopes)(noop(raw())), "1/s")
    r.layer("bulk.parse_rps", rps("bulk_parse", Envelopes)(noop(Parse.parse(raw()))), "1/s")
    val parsed = Parse.parse(raw()).cache()
    noop(parsed)
    r.layer("bulk.route_parsed_rps",
      rps("bulk_route_parsed", Envelopes)(noop(Pipeline.routeParsed(parsed, rules))), "1/s")
    parsed.unpersist(blocking = true)
    val route = rps("bulk_route", Envelopes)(noop(Pipeline.route(raw(), rules)))
    r.layer("bulk.route_rps", route, "1/s")
    r.layer("bulk.observe_overhead_s", Envelopes / observed - Envelopes / route, "s")
    r.layer("bulk.forwarded_ratio", seen.forwarded.toDouble / seen.consumed, "ratio")
    r.layer("bulk.parse_errors", seen.parseErrors.toDouble, "count")
    r.layer("bulk.deletes_dropped", seen.deletes.toDouble, "count")

    // the stream-processing baseline: the observed pass on one core
    spark.stop()
    val one = Main.session(o, "local[1]")
    val oneRps = rps("bulk_observed_1core", OneCoreSlice) {
      val got = observedPass(one.read.parquet(slice), rules)
      r.check("bulk one-core pass", expectSlice.consumed, expectSlice.failures(got))
    }
    r.layer("bulk.rps_1core", oneRps, "1/s")
    r.layer("bulk.speedup_ncore", observed / oneRps, "ratio")
    println(f"cdc_bulk: observed pass ${observed}%.0f envelopes/s on ${o.cores} cores, ${oneRps}%.0f on one")
    one
  }
}
