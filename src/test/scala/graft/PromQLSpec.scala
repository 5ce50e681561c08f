package graft

import graft.lang.prom.PromQL

class PromQLSpec extends SparkTestBase {
  private val S = Some(_: Double)
  private val N = Option.empty[Double]

  private def fx = samplesDF(
    series("name:req,dc:a", Seq(S(1), S(2), S(3), S(4), S(5), S(6), S(7), S(8), S(9), S(10))) ++
    series("name:req,dc:b", Seq(S(2), S(4), S(6), S(8), S(10), S(12), S(14), S(16), S(18), S(20))) ++
    series("name:mem,dc:a", Seq(S(5), S(4), S(3), S(2), S(1), S(2), S(3), S(4), S(5), S(6))))

  private def run(q: String) = PromQL.query(spark, fx, g, q)

  test("instant selector with matchers") {
    assertSeries(run("""req{dc="a"}"""),
      Map("dc:a,name:req" -> Seq(S(1), S(2), S(3), S(4), S(5), S(6), S(7), S(8), S(9), S(10))))
  }

  test("regex and negative matchers") {
    assertSeries(run("""req{dc=~"a|c"}"""),
      Map("dc:a,name:req" -> Seq(S(1), S(2), S(3), S(4), S(5), S(6), S(7), S(8), S(9), S(10))))
    assertSeries(run("""req{dc!="a"}"""),
      Map("dc:b,name:req" -> Seq(S(2), S(4), S(6), S(8), S(10), S(12), S(14), S(16), S(18), S(20))))
  }

  test("matchers read a missing label as the empty string") {
    val jobs = samplesDF(
      series("name:m,job:a", Seq.fill(10)(S(1))) ++
      series("name:m,job:b", Seq.fill(10)(S(2))) ++
      series("name:m", Seq.fill(10)(S(3))))
    def keys(q: String) = toGolden(PromQL.query(spark, jobs, g, q)).keySet
    assert(keys("""m{job=""}""") == Set("name:m"))
    assert(keys("""m{job!=""}""") == Set("job:a,name:m", "job:b,name:m"))
    assert(keys("""m{job=~".*"}""") == Set("job:a,name:m", "job:b,name:m", "name:m"))
    assert(keys("""m{job=~"a|"}""") == Set("job:a,name:m", "name:m"))
    assert(keys("""m{job!~"a"}""") == Set("job:b,name:m", "name:m"))
  }

  test("sum by (dc)") {
    assertSeries(run("""sum by (dc) (req)"""),
      Map("dc:a" -> Seq(S(1), S(2), S(3), S(4), S(5), S(6), S(7), S(8), S(9), S(10)),
          "dc:b" -> Seq(S(2), S(4), S(6), S(8), S(10), S(12), S(14), S(16), S(18), S(20))))
  }

  test("sum collapses") {
    assertSeries(run("""sum(req)"""),
      Map("" -> Seq(S(3), S(6), S(9), S(12), S(15), S(18), S(21), S(24), S(27), S(30))))
  }

  test("rate over monotonic counter") {
    // req dc:a increases by 1 per 60s → 1/60 per second everywhere after 1st pt
    val out = toGolden(run("""rate(req{dc="a"}[2m])"""))
    // decimal-exact smoothing quantizes at 1e-9 (OracleSafe parity)
    val vals = out("dc:a,name:req").flatten
    assert(vals.nonEmpty && vals.forall(v => math.abs(v - 1.0 / 60) < 1e-8))
  }

  test("increase scales rate by window") {
    val out = toGolden(run("""increase(req{dc="a"}[2m])"""))
    val vals = out("dc:a,name:req").flatten
    assert(vals.forall(v => math.abs(v - 2.0) < 1e-6))
  }

  test("avg_over_time window aggregate") {
    assertSeries(run("""avg_over_time(mem{dc="a"}[2m])"""),
      Map("dc:a,name:mem" -> Seq(S(5), S(4.5), S(4), S(3), S(2), S(5.0 / 3), S(2), S(3), S(4), S(5))))
  }

  test("scalar arithmetic on vector") {
    // scalar arithmetic rewrites the value, so the metric name is dropped
    assertSeries(run("""mem{dc="a"} * 2"""),
      Map("dc:a" -> Seq(S(10), S(8), S(6), S(4), S(2), S(4), S(6), S(8), S(10), S(12))))
  }

  test("math functions") {
    assertSeries(run("""sqrt(req{dc="b"})"""),
      Map("dc:b" ->
        Seq(2.0, 4, 6, 8, 10, 12, 14, 16, 18, 20).map(v => S(math.sqrt(v)))))
  }

  test("vector / vector matches across metric names and drops the name label") {
    // default matching = all labels except __name__, so req/mem pair on
    // {dc:a}; arithmetic results carry NO metric name (Prometheus
    // shouldDropMetricName)
    val out = toGolden(run("""req{dc="a"} / mem{dc="a"}"""))
    assert(out.keySet == Set("dc:a"), "a / b output must not carry the name label")
    assert(out("dc:a").head.contains(0.2))
  }

  test("vector * vector keeps non-name labels and drops the name") {
    val out = toGolden(run("""req{dc="a"} * mem{dc="a"}"""))
    assert(out.keySet == Set("dc:a"))
    assert(out("dc:a").head.contains(5.0))   // 1 * 5
    assert(out("dc:a")(4).contains(5.0))     // 5 * 1
  }

  test("trailing input after a complete expression raises") {
    intercept[PromQL.PromParseError](PromQL.parse("""req{dc="a"} extra"""))
    intercept[PromQL.PromParseError](PromQL.parse("""req{dc="a"} ) extra"""))
  }

  test("sum without drops the listed labels and the metric name") {
    // beyond-parity: the reference raises on `without`
    // (PromSourceBuilderVisitor.java:258-259); we execute it with Prometheus
    // hygiene — dc and the name both leave the group identity, so the two
    // req series collapse into one unlabeled group
    assertSeries(run("""sum without (dc) (req)"""),
      Map("" -> Seq(S(3), S(6), S(9), S(12), S(15), S(18), S(21), S(24), S(27), S(30))))
  }

  test("without () drops only the metric name") {
    assertSeries(run("""sum without () (req)"""),
      Map("dc:a" -> Seq(S(1), S(2), S(3), S(4), S(5), S(6), S(7), S(8), S(9), S(10)),
          "dc:b" -> Seq(S(2), S(4), S(6), S(8), S(10), S(12), S(14), S(16), S(18), S(20))))
  }

  test("topk without ranks inside the without-group and keeps full labels") {
    // dropping dc (and the name) leaves one group holding both req series;
    // dc:b is larger at every instant, and the survivor keeps its original
    // label set — topk never rewrites labels
    assertSeries(run("""topk(1, req) without (dc)"""),
      Map("dc:b,name:req" -> Seq(S(2), S(4), S(6), S(8), S(10), S(12), S(14), S(16), S(18), S(20))))
  }

  test("vector subtraction emits points only where both sides exist") {
    // PromQL vector matching: no zero-fill of absent operands (unlike the M3
    // diff default) — a hole on either side means no output point
    val holes = samplesDF(
      series("name:a,dc:x", Seq(S(10), S(20), N, N, N, N, N, N, N, N)) ++
      series("name:b,dc:x", Seq(N, S(5), S(7), N, N, N, N, N, N, N)))
    val out = toGolden(PromQL.query(spark, holes, g, "a - b"))
    assert(out.values.head == Seq(N, S(15), N, N, N, N, N, N, N, N))
  }

  test("unimplemented prom function throws") {
    intercept[UnsupportedOperationException](run("""frobnicate_over_time(req[2m])"""))
  }

  test("mad_over_time is the median absolute deviation of the window") {
    // mem dc:a = 5,4,3,2,1,…; window [t-3m,t] at position 3 holds {5,4,3,2}:
    // median 3.5, deviations {1.5,0.5,0.5,1.5} → MAD 1.0
    val out = toGolden(run("""mad_over_time(mem{dc="a"}[3m])"""))
    assert(math.abs(out("dc:a,name:mem")(3).get - 1.0) < 1e-12)
    // single-sample window: MAD 0
    assert(out("dc:a,name:mem").head == S(0))
  }

  test("idelta is the raw last-sample difference inside the window") {
    assertSeries(run("""idelta(mem{dc="a"}[2m])"""),
      // mem dc:a = 5,4,3,2,1,2,3,4,5,6 → consecutive diffs from position 1
      Map("dc:a,name:mem" ->
        (Seq(N) ++ Seq(-1.0, -1, -1, -1, 1, 1, 1, 1, 1).map(S(_)))))
  }

  // ---- round-4 surface -----------------------------------------------------

  test("offset modifier re-stamps a shifted scan") {
    assertSeries(run("""req{dc="a"} offset 2m"""),
      Map("dc:a,name:req" -> Seq(N, N, S(1), S(2), S(3), S(4), S(5), S(6), S(7), S(8))))
  }

  test("comparison filter drops failing samples") {
    assertSeries(run("""req > 10"""),
      Map("dc:b,name:req" -> Seq(N, N, N, N, N, S(12), S(14), S(16), S(18), S(20))))
  }

  test("comparison with bool yields 0/1") {
    // bool rewrites the value to 0/1, so the metric name is dropped
    assertSeries(run("""req{dc="b"} >= bool 10"""),
      Map("dc:b" -> Seq(S(0), S(0), S(0), S(0), S(1), S(1), S(1), S(1), S(1), S(1))))
  }

  test("and keeps left points with a matching right label set at the ts") {
    assertSeries(run("""req{dc="a"} and (req{dc="a"} > 4)"""),
      Map("dc:a,name:req" -> Seq(N, N, N, N, S(5), S(6), S(7), S(8), S(9), S(10))))
  }

  test("unless drops left points matched on the right") {
    assertSeries(run("""req{dc="a"} unless (req{dc="a"} > 4)"""),
      Map("dc:a,name:req" -> Seq(S(1), S(2), S(3), S(4), N, N, N, N, N, N)))
  }

  test("or unions right points absent from the left vector") {
    assertSeries(run("""(req{dc="a"} > 6) or (req{dc="a"} > 4)"""),
      Map("dc:a,name:req" -> Seq(N, N, N, N, S(5), S(6), S(7), S(8), S(9), S(10))))
  }

  test("topk/bottomk rank per instant") {
    assertSeries(run("""topk(1, req)"""),
      Map("dc:b,name:req" -> Seq(S(2), S(4), S(6), S(8), S(10), S(12), S(14), S(16), S(18), S(20))))
    assertSeries(run("""bottomk(1, req)"""),
      Map("dc:a,name:req" -> Seq(S(1), S(2), S(3), S(4), S(5), S(6), S(7), S(8), S(9), S(10))))
  }

  test("quantile aggregation interpolates across series") {
    assertSeries(run("""quantile(0.5, req)"""),
      Map("" -> (1 to 10).map(i => S(1.5 * i))))
  }

  test("stdvar aggregation is population variance") {
    assertSeries(run("""stdvar(req)"""),
      Map("" -> (1 to 10).map(i => S(0.25 * i * i))))
  }

  test("count_values buckets by stringified value") {
    val out = toGolden(run("""count_values("v", mem)"""))
    assert(out("v:5") == Seq(S(1), N, N, N, N, N, N, N, S(1), N))
    assert(out("v:2") == Seq(N, N, N, S(1), N, S(1), N, N, N, N))
  }

  test("calendar functions read the value as epoch seconds") {
    assertSeries(run("""minute(timestamp(req{dc="a"}))"""),
      Map("dc:a" -> (1 to 10).map(i => S(i.toDouble))))
  }

  test("predict_linear extrapolates the window's least-squares line") {
    assertSeries(run("""predict_linear(req{dc="a"}[5m], 60)"""),
      Map("dc:a,name:req" -> (Seq(N) ++ (3 to 11).map(i => S(i.toDouble)))), tol = 1e-6)
  }

  test("deriv is the least-squares slope per second") {
    val out = toGolden(run("""deriv(req{dc="a"}[5m])"""))
    val vals = out("dc:a,name:req").flatten
    assert(vals.size == 9 && vals.forall(v => math.abs(v - 1.0 / 60) < 1e-9))
  }

  test("holt_winters tracks a linear series exactly") {
    assertSeries(run("""holt_winters(req{dc="a"}[5m], 0.5, 0.5)"""),
      Map("dc:a,name:req" -> (Seq(N) ++ (2 to 10).map(i => S(i.toDouble)))), tol = 1e-9)
  }

  test("label_replace rewrites on full regex match with backrefs") {
    val out = toGolden(run("""label_replace(req{dc="a"}, "svc", "$1-x", "name", "(re)q")"""))
    assert(out.keySet == Set("dc:a,name:req,svc:re-x"))
  }

  test("label_join concatenates source labels") {
    val out = toGolden(run("""label_join(req{dc="a"}, "combo", "-", "name", "dc")"""))
    assert(out.keySet == Set("combo:req-a,dc:a,name:req"))
  }

  test("label_join deletes the destination when the joined value is empty") {
    // Prometheus's labels.Builder.Set deletes a label set to "": joining only
    // an absent label removes dc instead of keeping dc:"" as a new identity
    val out = toGolden(run("""label_join(req{dc="a"}, "dc", "-", "absent")"""))
    assert(out.keySet == Set("name:req"))
  }

  test("absent emits 1 on the grid only for empty vectors") {
    assertSeries(run("""absent(nothere{x="y"})"""),
      Map("name:nothere,x:y" -> Seq.fill(10)(S(1))))
    assert(toGolden(run("""absent(req)""")).isEmpty)
  }

  test("absent_over_time respects the presence window") {
    val holes = samplesDF(
      series("name:a,dc:x", Seq(S(10), S(20), N, N, N, N, N, N, N, N)))
    val out = toGolden(PromQL.query(spark, holes, g, "absent_over_time(a[2m])"))
    assert(out == Map("name:a" -> Seq(N, N, N, N, S(1), S(1), S(1), S(1), S(1), S(1))))
  }

  test("vector modulo and power") {
    assertSeries(run("""req{dc="b"} % 3"""),
      Map("dc:b" -> Seq(S(2), S(1), S(0), S(2), S(1), S(0), S(2), S(1), S(0), S(2))))
    assertSeries(run("""req{dc="a"} ^ 2"""),
      Map("dc:a" -> (1 to 10).map(i => S(i.toDouble * i))))
  }

  test("operator precedence: * binds tighter than +") {
    // vector+vector and scalar * both drop the name label
    assertSeries(run("""req{dc="a"} + req{dc="a"} * 2"""),
      Map("dc:a" -> (1 to 10).map(i => S(3.0 * i))))
    assertSeries(run("""(req{dc="a"} + req{dc="a"}) * 2"""),
      Map("dc:a" -> (1 to 10).map(i => S(4.0 * i))))
  }

  test("scalar subtrees constant-fold") {
    assertSeries(run("""req{dc="a"} * (2 + 3)"""),
      Map("dc:a" -> (1 to 10).map(i => S(5.0 * i))))
  }

  test("vector() and time() build label-less grid vectors") {
    assertSeries(run("""vector(7)"""), Map("" -> Seq.fill(10)(S(7))))
    assertSeries(run("""time()"""), Map("" -> (1 to 10).map(i => S(i * 60.0))))
  }

  test("stddev_over_time is population-based") {
    // window [t-2m, t] over dc:a at position 2 holds {1,2,3}: σ_pop = √(2/3)
    val out = toGolden(run("""stddev_over_time(req{dc="a"}[2m])"""))
    assert(math.abs(out("dc:a,name:req")(2).get - math.sqrt(2.0 / 3)) < 1e-9)
  }

  // ---- vector matching modifiers -------------------------------------------

  private def fxMatch = samplesDF(
    series("name:q,dc:a,inst:1", Seq(S(1), S(2), S(3), S(4), S(5), S(6), S(7), S(8), S(9), S(10))) ++
    series("name:q,dc:a,inst:2", Seq(S(10), S(20), S(30), S(40), S(50), S(60), S(70), S(80), S(90), S(100))) ++
    series("name:lim,dc:a,cap:hi", Seq.fill(10)(S(2.0))))

  test("on() one-to-one projects the result onto the on-labels") {
    assertSeries(PromQL.query(spark, fx, g, """req{dc="a"} / on(dc) mem{dc="a"}"""),
      Map("dc:a" -> Seq(S(0.2), S(0.5), S(1), S(2), S(5), S(3), S(7.0 / 3), S(2), S(1.8), S(10.0 / 6))))
  }

  test("ignoring() drops listed labels from the match key and the result") {
    assertSeries(PromQL.query(spark, fx, g, """req{dc="a"} * ignoring(name) mem{dc="a"}"""),
      Map("dc:a" -> Seq(S(5), S(8), S(9), S(8), S(5), S(12), S(21), S(32), S(45), S(60))))
  }

  test("group_left fans one right series onto many left series (name dropped)") {
    val out = toGolden(PromQL.query(spark, fxMatch, g, """q * on(dc) group_left lim"""))
    assert(out == Map(
      "dc:a,inst:1" -> (1 to 10).map(i => S(2.0 * i)),
      "dc:a,inst:2" -> (1 to 10).map(i => S(20.0 * i))))
  }

  test("group_left(include) copies labels from the one side") {
    val out = toGolden(PromQL.query(spark, fxMatch, g, """q * on(dc) group_left(cap) lim"""))
    assert(out.keySet == Set("cap:hi,dc:a,inst:1", "cap:hi,dc:a,inst:2"))
  }

  test("group_right mirrors group_left with the many side on the right") {
    val out = toGolden(PromQL.query(spark, fxMatch, g, """lim * on(dc) group_right q"""))
    assert(out == Map(
      "dc:a,inst:1" -> (1 to 10).map(i => S(2.0 * i)),
      "dc:a,inst:2" -> (1 to 10).map(i => S(20.0 * i))))
  }

  test("atan2 is a binary operator at product precedence") {
    // req{dc:a} atan2 req{dc:a} = atan2(v, v) = π/4 everywhere; name dropped
    assertSeries(run("""req{dc="a"} atan2 req{dc="a"}"""),
      Map("dc:a" -> Seq.fill(10)(S(math.Pi / 4))))
    // scalar form also rewrites the value, so it drops the name too
    assertSeries(run("""req{dc="a"} atan2 0"""),
      Map("dc:a" -> Seq.fill(10)(S(math.Pi / 2))))
  }

  test("many-to-one without group_left raises") {
    val ex = intercept[Exception] {
      PromQL.query(spark, fxMatch, g, """q * on(dc) lim""").collect()
    }
    assert(ex.getMessage != null &&
      (ex.getMessage.contains("group_left") || ex.getCause != null))
  }

  test("set op with on() matches the projected key") {
    // q{inst=1} and on(dc) lim: every q point has a lim point sharing dc:a
    val out = toGolden(PromQL.query(spark, fxMatch, g, """q{inst="1"} and on(dc) lim"""))
    assert(out == Map("dc:a,inst:1,name:q" -> (1 to 10).map(i => S(i.toDouble))))
  }

  test("irate needs both samples inside the window") {
    // series with a 3m gap: irate[2m] emits nothing across the gap
    val gappy = samplesDF(
      series("name:c,dc:x", Seq(S(1), S(2), N, N, S(5), S(6), N, N, N, N)))
    val out = toGolden(PromQL.query(spark, gappy, g, "irate(c[2m])"))
    // position 1: (2-1)/60s; position 4: gap 3m > 2m window → dropped;
    // position 5: (6-5)/60s
    assert(out("dc:x,name:c") == Seq(N, S(1.0 / 60), N, N, N, S(1.0 / 60), N, N, N, N))
  }

  test("delta is last minus first over the window") {
    val out = toGolden(run("""delta(mem{dc="a"}[3m])"""))
    // mem dc:a = 5,4,3,2,1,2,3,4,5,6; window [t-3m, t] holds up to 4 points
    // delta at position 3 = v(3) - v(0) = 2 - 5 = -3
    assert(out("dc:a,name:mem")(3) == S(-3.0))
    // position 0 has a single point → no output
    assert(out("dc:a,name:mem").head == N)
  }

  test("subquery re-grids an inner expression for an outer window") {
    // max_over_time((mem*2)[3m:1m]): inner doubles mem{dc:a}, subquery step
    // equals the sample step, outer window takes the trailing 3m max
    val out = toGolden(run("""max_over_time((mem{dc="a"} * 2)[3m:1m])"""))
    // mem dc:a = 5,4,3,2,1,2,3,4,5,6 → doubled; window [t-3m,t] max of 4 pts
    assert(out("dc:a") ==
      Seq(S(10), S(10), S(10), S(10), S(8), S(6), S(6), S(8), S(10), S(12)))
  }

  test("subquery with coarser step keeps the newest sample at-or-before each instant") {
    // [4m:2m]: step instants at absolute 2m multiples read the newest sample
    // <= the instant (ceiling bucket — never the future): samples at minutes
    // 1..10 (values 1..10) become instants 2m→2, 4m→4, 6m→6, 8m→8, 10m→10;
    // sum_over_time then sums instants in the trailing 4m window
    assertSeries(run("""sum_over_time(req{dc="a"}[4m:2m])"""),
      Map("dc:a,name:req" -> Seq(N, S(2), N, S(6), N, S(12), N, S(18), N, S(24))))
  }

  test("subquery over an aggregation") {
    // sum(req) = 3,6,…,30; min_over_time over trailing 2m of 1m instants
    assertSeries(run("""min_over_time(sum(req)[2m:1m])"""),
      Map("" -> Seq(S(3), S(3), S(3), S(6), S(9), S(12), S(15), S(18), S(21), S(24))))
  }

  test("subquery instants carry a plain selector's last sample within the lookback delta") {
    // Prometheus lookback-delta staleness: a selector inner is instant
    // evaluation, so a sample stays visible at later step instants while
    // `instant - ts < 5m` (left-open window). One sample at minute 0 feeds
    // instants 0–4; minute 5 sits exactly 5m away and is excluded.
    val holes = samplesDF(series("name:h,dc:x", Seq(S(10), N, N, N, N, N, N, N, N, N)))
    val out = toGolden(PromQL.query(spark, holes, g, "sum_over_time(h[2m:1m])"))
    assert(out("dc:x,name:h") == Seq(S(10), S(20), S(30), S(30), S(30), N, N, N, N, N))
  }

  test("a pointwise chain inner carries the selector then transforms per instant") {
    // (h * 2)[2m:1m]: Prometheus evaluates `h * 2` at each instant — the
    // selector's sample carries within the lookback delta, the arithmetic
    // applies to the carried value. One sample at minute 0 (v10) feeds
    // instants 0–4 doubled; minute 5 sits exactly 5m away and is excluded.
    val holes = samplesDF(series("name:h,dc:x", Seq(S(10), N, N, N, N, N, N, N, N, N)))
    val out = toGolden(PromQL.query(spark, holes, g, "sum_over_time((h * 2)[2m:1m])"))
    assert(out("dc:x") == Seq(S(20), S(40), S(60), S(60), S(60), N, N, N, N, N))
  }

  test("a filter chain inner applies carry-then-filter: a fresh failing sample masks") {
    // (h > 40)[2m:1m]: at each instant the CARRIED selector value is
    // filtered. h = 50, 10, …: minute 1's fresh sample (10) fails the
    // filter, so instants 1+ produce nothing — carrying the chain's OUTPUT
    // (the lone 50) forward instead would wrongly revive it at minutes 1–4.
    val holes = samplesDF(series("name:h,dc:x",
      Seq(S(50), S(10), N, N, N, N, N, N, N, N)))
    val out = toGolden(PromQL.query(spark, holes, g, "sum_over_time((h > 40)[2m:1m])"))
    // minute 1's carried value is the fresh 10 → filtered out, no instant
    // row; output-carry of the chain would have revived 50 at minutes 1–4
    // (sums 100/150 at the window overlaps)
    assert(out("dc:x,name:h") == Seq(S(50), N, N, N, N, N, N, N, N, N))
  }

  test("aggregated subquery inners carry each input selector before combining") {
    // sum(h)[2m:1m] with two series sampled at different minutes: Prometheus
    // carries EACH series up to the delta, then sums the carried values per
    // instant. h{a}=10 at grid minute 1 only, h{b}=5 at minute 2 only, so a
    // is visible at instants 1–5 (minute 6 sits exactly 5m away — excluded)
    // and b at instants 2–6: sums are 10, then 15 ×4, then 5 at instant 6.
    // Slot-bounded evaluation (no input carry) would sum only co-instant
    // samples: 10, 5, then nothing.
    val holes = samplesDF(
      series("name:h,dc:a", Seq(S(10), N, N, N, N, N, N, N, N, N)) ++
      series("name:h,dc:b", Seq(N, S(5), N, N, N, N, N, N, N, N)))
    val inner = toGolden(PromQL.query(spark, holes, g, "max_over_time(sum(h)[2m:1m])"))
    // max_over_time over the trailing 2m of the summed instants (emitting,
    // per the engine convention, at the inner-output instants 1–6):
    //   t1: 10; t2–t5: 15; t6: window {15, 15, 5} → 15
    assert(inner("") == Seq(S(10), S(15), S(15), S(15), S(15), S(15), N, N, N, N),
      s"got ${inner("")}")
  }

  test("promParity opens range windows left and drops the metric name") {
    // default (reference parity): closed [t-2m, t] — at minute 2 the window
    // holds samples 0,1,2 → sum 1+2+3 = 6; name kept.
    assertSeries(run("""sum_over_time(req{dc="a"}[2m])"""),
      Map("dc:a,name:req" ->
        Seq(S(1), S(3), S(6), S(9), S(12), S(15), S(18), S(21), S(24), S(27))))
    // promParity: left-open (t-2m, t] — minute 2's window drops the sample
    // at exactly t-2m → 2+3 = 5; and sum_over_time drops the metric name.
    val par = toGolden(PromQL.query(spark, fx, g,
      """sum_over_time(req{dc="a"}[2m])""", promParity = true))
    assert(par("dc:a") ==
      Seq(S(1), S(3), S(5), S(7), S(9), S(11), S(13), S(15), S(17), S(19)),
      s"got $par")
    // last_over_time is the shouldDropMetricName exception: name kept
    val last = toGolden(PromQL.query(spark, fx, g,
      """last_over_time(req{dc="a"}[2m])""", promParity = true))
    assert(last.keySet == Set("dc:a,name:req"))
  }

  test("a mixed inner (carried selector + range output) combines on the step-instant set") {
    // (h + irate(c[2m]))[2m:1m]: h (one sample, minute 0) carries to step
    // instants 0-4; irate emits at c's SAMPLE instants with >=2 window
    // points (minutes 1-3, value (60)/(60s)=1) and is RE-GRIDDED onto the
    // subquery instants (ceiling bucket, newest per bucket, no carry).
    // Here the samples already sit on the 1m step grid, so the re-grid is
    // the identity: combine at instants 1-3 (sum 11), NOTHING at minute 4
    // even though h still carries there — a range-function output never
    // carries past its last emission (the engine-wide rule, matching
    // "range-function inners never carry" below).
    val holes = samplesDF(
      series("name:h,dc:x", Seq(S(10), N, N, N, N, N, N, N, N, N)) ++
      series("name:c,dc:x", Seq(S(0), S(60), S(120), S(180), N, N, N, N, N, N)))
    val out = toGolden(PromQL.query(spark, holes, g,
      "last_over_time((h + irate(c[2m]))[2m:1m])"))
    assert(out("dc:x") == Seq(N, S(11), S(11), S(11), N, N, N, N, N, N),
      s"got $out")
  }

  test("a mixed inner re-grids range outputs onto OFF-SAMPLE step instants") {
    // Same fixture, subquery step 90s: h's carry instants are multiples of
    // 90s (90,180,270,360); irate's sample-instant emissions (120,180,240)
    // land BETWEEN them except at 180. Before the re-grid fix the combine
    // survived only at the coincident instant 180; with the range output
    // re-gridded (120,180 -> 180 newest; 240 -> 270) both sides live on
    // the step instants and the combine emits at 180 AND 270 — the
    // Prometheus-shaped result (value present wherever both operands are
    // evaluable at the subquery instant).
    val holes = samplesDF(
      series("name:h,dc:x", Seq(S(10), N, N, N, N, N, N, N, N, N)) ++
      series("name:c,dc:x", Seq(S(0), S(60), S(120), S(180), N, N, N, N, N, N)))
    val out = PromQL.query(spark, holes, g,
      "last_over_time((h + irate(c[2m]))[3m:90s])")
      .select("timestamp", "value").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out == Map(180000L -> 11.0, 270000L -> 11.0), s"got $out")
  }

  test("nested subqueries: inner carries, outer re-grids the computed result") {
    // h has one sample (minute 1, v10); the INNER subquery carries it to
    // instants 1–5 and sums trailing 2m (10,20,30,30,30); the OUTER
    // subquery re-evaluates that computed expression per instant with no
    // output carry, and the outer max window reads the produced instants.
    val holes = samplesDF(series("name:h,dc:x", Seq(S(10), N, N, N, N, N, N, N, N, N)))
    val out = toGolden(PromQL.query(spark, holes, g,
      "max_over_time((sum_over_time(h[2m:1m]))[4m:1m])"))
    assert(out("dc:x,name:h") ==
      Seq(S(10), S(20), S(30), S(30), S(30), N, N, N, N, N), s"got ${out("dc:x,name:h")}")
  }

  test("absent_over_time accepts a subquery and sees the staleness carry") {
    // one sample at minute 1 carries to instants 1–5; absence begins once
    // the trailing 2m window slides past the last carried instant (5m)
    val holes = samplesDF(series("name:h,dc:x", Seq(S(10), N, N, N, N, N, N, N, N, N)))
    val out = toGolden(PromQL.query(spark, holes, g, "absent_over_time(h[2m:1m])"))
    assert(out("name:h") ==
      Seq(N, N, N, N, N, N, N, S(1), S(1), S(1)), s"got ${out("name:h")}")
  }

  test("range-function inners never carry: an empty window yields nothing") {
    // rate(h[2m])[4m:1m]: rate needs two samples in its window; once the
    // window moves past the data, instants stay empty — Prometheus never
    // carries a function output across the staleness delta.
    val holes = samplesDF(series("name:h,dc:x",
      Seq(S(10), S(20), N, N, N, N, N, N, N, N)))
    val out = toGolden(PromQL.query(spark, holes, g,
      "max_over_time(rate(h[2m])[4m:1m])"))
    // rate emits at sample instants whose [t-2m, t] window holds both
    // samples — only minute 1; with staleness carry that output would have
    // persisted through minute 6
    assert(out("dc:x,name:h").zipWithIndex.forall {
      case (v, i) => if (i == 1) v.isDefined else v.isEmpty
    }, s"got ${out("dc:x,name:h")}")
  }

  test("rate over a subquery of a transformed counter") {
    // rate((req{dc="a"} * 1)[5m:1m]) ≈ rate of the raw counter
    val out = toGolden(run("""rate((req{dc="a"} * 1)[5m:1m])"""))
    val vals = out("dc:a").flatten
    assert(vals.nonEmpty && vals.forall(v => math.abs(v - 1.0 / 60) < 1e-6))
  }

  test("@ modifier pins the vector to a fixed instant") {
    // @ 300 (unix seconds): latest dc:a sample ≤ 300s is v5 — constant
    assertSeries(run("""req{dc="a"} @ 300"""),
      Map("dc:a,name:req" -> Seq.fill(10)(S(5))))
    // offset composes: t = 360s - 1m = 300s
    assertSeries(run("""req{dc="a"} @ 360 offset 1m"""),
      Map("dc:a,name:req" -> Seq.fill(10)(S(5))))
  }

  test("@ start() and @ end() resolve to the query range bounds") {
    // @ start(): latest sample ≤ 1m is v1; @ end(): last grid instant 10m → v10
    assertSeries(run("""req{dc="a"} @ start()"""),
      Map("dc:a,name:req" -> Seq.fill(10)(S(1))))
    assertSeries(run("""req{dc="a"} @ end()"""),
      Map("dc:a,name:req" -> Seq.fill(10)(S(10))))
    // on a range selector: sum_over_time of [start-2m, start] holds only v1
    assertSeries(run("""sum_over_time(req{dc="a"}[2m] @ start())"""),
      Map("dc:a,name:req" -> Seq.fill(10)(S(1))))
  }

  test("@ on a range selector pins the window and stamps the grid") {
    // sum_over_time(req{dc="a"}[3m] @ 300): window [2m, 5m] holds samples
    // 2,3,4,5 → 14, constant across the grid
    assertSeries(run("""sum_over_time(req{dc="a"}[3m] @ 300)"""),
      Map("dc:a,name:req" -> Seq.fill(10)(S(14))))
    // and through a rate: req dc:a rises 1/min → 1/60 per second at t=300s
    val out = toGolden(run("""rate(req{dc="a"}[3m] @ 300)"""))
    assert(out("dc:a,name:req").flatten.forall(v => math.abs(v - 1.0 / 60) < 1e-8))
  }

  test("@ pins a selector subquery after the staleness carry") {
    // one sample (minute 1, v10) carries to instants 1m..5m; the pinned
    // evaluation at t=300s reads the newest function output in its lookback
    // — the 5m instant, whose [t-2m, t] window holds three carried tens
    val holes = samplesDF(series("name:h,dc:x", Seq(S(10), N, N, N, N, N, N, N, N, N)))
    val out = toGolden(PromQL.query(spark, holes, g, "sum_over_time(h[2m:1m] @ 300)"))
    assert(out("dc:x,name:h") == Seq.fill(10)(S(30)))
  }

  test("irate emits the post-reset rate across counter resets") {
    // counter resets at position 3 (8 → 2): Prometheus treats the counter as
    // restarted, so the instant rate is value/elapsed = 2/60, not a drop
    val resetting = samplesDF(
      series("name:c,dc:x", Seq(S(1), S(4), S(8), S(2), S(5), N, N, N, N, N)))
    val out = toGolden(PromQL.query(spark, resetting, g, "irate(c[2m])"))
    assert(out("dc:x,name:c") == Seq(N, S(3.0 / 60), S(4.0 / 60), S(2.0 / 60), S(3.0 / 60), N, N, N, N, N))
  }

  test("increase extrapolates a partial window to the window edges") {
    // increase(req{dc="a"}[2m]) at position 1: window [t-2m, t] holds only
    // samples 1,2 (sampledInterval 1m, raw delta 1). durationToStart is 1m,
    // avg spacing 1m → threshold 1.1m, and the counter-zero clamp keeps 1m
    // (zero crossing = 1m·(1/1) = 1m): extrapolated = (1m+1m)/1m → 2.0
    val out = toGolden(run("""increase(req{dc="a"}[2m])"""))
    assert(math.abs(out("dc:a,name:req")(1).get - 2.0) < 1e-9)
    // full window at position 3: samples 2,3,4 span the whole window → raw 2
    assert(math.abs(out("dc:a,name:req")(3).get - 2.0) < 1e-9)
  }

  test("delta extrapolates the gauge difference") {
    // delta(mem{dc="a"}[3m]) at position 1: samples 5,4 → raw -1, sampled
    // 1m, durationToStart 2m >= 1.1m threshold → extend by avg/2 = 0.5m:
    // -1 × 1.5m/1m = -1.5; full window at position 3 → exact -3
    val out = toGolden(run("""delta(mem{dc="a"}[3m])"""))
    assert(math.abs(out("dc:a,name:mem")(1).get - (-1.5)) < 1e-9)
    assert(math.abs(out("dc:a,name:mem")(3).get - (-3.0)) < 1e-9)
  }

  test("instant query evaluates a single-point grid") {
    // evaluation time = epoch anchor of the 3rd grid point (date-math ms anchor)
    val t = g.startMs + 2 * g.stepMs
    val rows = PromQL.instant(spark, fx, """req{dc="a"}""", time = t.toString, nowMs = t)
      .collect()
    assert(rows.length == 1 && rows.head.getAs[Double]("value") == 3.0)
  }

  // ---- dynamic scalars: scalar(), time() in binary ops ----------------------

  test("scalar() broadcasts a per-step value onto a vector") {
    // mem{dc="a"} is a single series → scalar() is its value at each step
    assertSeries(run("""req{dc="a"} - scalar(mem{dc="a"})"""),
      Map("dc:a" ->
        Seq(S(-4), S(-2), S(0), S(2), S(4), S(4), S(4), S(4), S(4), S(4))))
  }

  test("scalar() of a multi-series vector is NaN") {
    // req has two series → Prometheus scalar() yields NaN at every step
    val nan = S(Double.NaN)
    assertSeries(run("""mem{dc="a"} * scalar(req)"""),
      Map("dc:a" -> Seq.fill(10)(nan)))
  }

  test("time() participates in arithmetic as a per-step scalar") {
    // grid instants are 60s..600s; req{dc="a"} value at point i is i+1
    assertSeries(run("""req{dc="a"} - time()"""),
      Map("dc:a" -> (1 to 10).map(i => S(i - 60.0 * i))))
  }

  test("vector() accepts dynamic scalar expressions") {
    assertSeries(run("""vector(scalar(mem{dc="a"}) + 1)"""),
      Map("" -> Seq(S(6), S(5), S(4), S(3), S(2), S(3), S(4), S(5), S(6), S(7))))
  }

  test("vector compared against a dynamic scalar filters the vector side") {
    // req > scalar(mem{dc="a"}): per-step threshold 5,4,3,2,1,2,3,4,5,6
    assertSeries(run("""req > scalar(mem{dc="a"})"""),
      Map("dc:a,name:req" ->
        Seq(N, N, N, S(4), S(5), S(6), S(7), S(8), S(9), S(10)),
        "dc:b,name:req" ->
        Seq(N, N, S(6), S(8), S(10), S(12), S(14), S(16), S(18), S(20))))
  }

  test("ts_of_max/last_over_time emit window-sample timestamps in seconds") {
    // mem{dc="a"} = 5,4,3,2,1,2,3,4,5,6 at 60s..600s; [2m] window holds the
    // trailing 3 samples; max ties (2 @ 240s and 360s) pick the latest ts
    assertSeries(run("""ts_of_max_over_time(mem{dc="a"}[2m])"""),
      Map("dc:a,name:mem" ->
        Seq(S(60), S(60), S(60), S(120), S(180), S(360), S(420), S(480), S(540), S(600))))
    assertSeries(run("""ts_of_last_over_time(mem{dc="a"}[2m])"""),
      Map("dc:a,name:mem" -> (1 to 10).map(i => S(60.0 * i))))
  }

  test("division and mod by a literal zero yield NaN, not a gap") {
    // the engine-wide NaN-on-zero-divisor convention must hold on the
    // literal path too — Spark's non-ANSI Divide/Remainder would return
    // NULL and silently drop every point
    val out = toGolden(run("""mem{dc="a"} / 0"""))
    assert(out("dc:a").forall(_.exists(_.isNaN)))
    val outMod = toGolden(run("""mem{dc="a"} % 0"""))
    assert(outMod("dc:a").forall(_.exists(_.isNaN)))
  }

  test("ts_of_max/min_over_time never pick a NaN sample over a real number") {
    val nanFx = samplesDF(
      series("name:x", Seq(S(1), S(Double.NaN), S(3), S(2), N, N, N, N, N, N)))
    // at 180s the [2m] window holds {1 @60, NaN @120, 3 @180}: the max is
    // 3 @180 — Spark's struct ordering would rank the NaN above it
    val outMax = toGolden(PromQL.query(spark, nanFx, g, "ts_of_max_over_time(x[2m])"))
    assert(outMax("name:x")(2).contains(180.0))
    // at 120s the window is {1 @60, NaN @120} → the real max is 1 @60
    assert(outMax("name:x")(1).contains(60.0))
    val outMin = toGolden(PromQL.query(spark, nanFx, g, "ts_of_min_over_time(x[2m])"))
    assert(outMin("name:x")(2).contains(60.0))
  }

  test("non-step-multiple range windows keep results on the query grid") {
    // a 90s window under the 60s step widens the scan by 120s (rounded UP
    // to a step multiple) — output instants must stay on the query grid
    val out = toGolden(run("""sum_over_time(mem{dc="a"}[90s])"""))
    assert(out.keySet == Set("dc:a,name:mem"))
    // window [t-90s, t] at 60s spacing holds the trailing 2 samples
    assert(out("dc:a,name:mem")(1).contains(9.0))   // 5 + 4
    assert(out("dc:a,name:mem")(9).contains(11.0))  // 5 + 6
  }

  test("comparisons use IEEE NaN semantics: != keeps NaN, ordering drops it") {
    // scalar(req) is NaN (two series): != keeps every sample, > keeps none
    assertSeries(run("""mem{dc="a"} != scalar(req)"""),
      Map("dc:a,name:mem" -> Seq(S(5), S(4), S(3), S(2), S(1), S(2), S(3), S(4), S(5), S(6))))
    assert(toGolden(run("""mem{dc="a"} > scalar(req)""")).isEmpty)
  }

  test("duplicate one-side series raise even when nothing matches") {
    // two b-series share the full match key; the a side never matches them
    val dup = samplesDF(
      series("name:a,dc:z", Seq(S(1), N, N, N, N, N, N, N, N, N)) ++
      series("name:b,dc:x,extra:1", Seq(S(2), N, N, N, N, N, N, N, N, N)) ++
      series("name:b,dc:x,extra:2", Seq(S(3), N, N, N, N, N, N, N, N, N)))
    val ex = intercept[Exception] {
      PromQL.query(spark, dup, g, """a / on(dc) b""").collect()
    }
    // the raise_error surfaces at varying depths of the SparkException
    // cause chain depending on scheduling — walk the whole chain
    val msgs = Iterator.iterate(ex: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("duplicate"), s"unexpected failure: $msgs")
  }

  test("mad_over_time emits nothing for an all-NaN window instead of failing") {
    // scalar(req) is NaN (two series) → every inner sample is NaN → every
    // window's filtered array is empty; the query must return empty, not
    // abort on element_at(array, 0)
    val out = toGolden(run("""mad_over_time((mem{dc="a"} * scalar(req))[2m:1m])"""))
    assert(out.isEmpty)
  }

  test("limitk keeps k series per step; limit_ratio obeys the complement law") {
    val limited = toGolden(run("""limitk(1, req)"""))
    assert(limited.keySet == Set("dc:a,name:req"), "k smallest series keys survive")
    // limit_ratio(r) ∪ limit_ratio(r-1) must partition the input exactly
    val kept = toGolden(run("""limit_ratio(0.5, req)""")).keySet
    val complement = toGolden(run("""limit_ratio(-0.5, req)""")).keySet
    assert((kept ++ complement) == toGolden(run("req")).keySet)
    assert(kept.intersect(complement).isEmpty)
  }

  test("scalar-to-scalar comparison requires bool and yields 0/1") {
    intercept[PromQL.PromParseError](run("""scalar(req) > 3""").collect())
    assertSeries(run("""scalar(mem{dc="a"}) >= bool 3"""),
      Map("" -> Seq(S(1), S(1), S(1), S(0), S(0), S(0), S(1), S(1), S(1), S(1))))
  }
}
