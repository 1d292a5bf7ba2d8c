package perfbench

/** Generator self-test, exits non-zero on failure:
  *
  *   - determinism: for each workload, the same seed must give
  *     byte-identical inputs and a different seed different ones;
  *   - coverage: at the benchmark's sizes every `steady` batch and every
  *     `catchup` backlog batch touches every hot table, so a batch's
  *     merge chain, which is set by the tables it touches, does not hinge
  *     on the assumed event-type weights. */
object GenCheck {
  val HotTables = Seq("customers", "subscriptions", "invoices", "payment_intents", "charges",
    "products")

  def inputs(seed: Long): Seq[(String, Gen.Inputs)] = Seq(
    "steady" -> Gen.steady(seed, Workloads.SteadyRows, Workloads.SteadyBatch, 8),
    "catchup" -> Gen.catchup(seed, Workloads.CatchupRows, Workloads.CatchupBatch,
      Workloads.CatchupBatches))

  def digests(seed: Long): Seq[(String, String)] =
    inputs(seed).map { case (w, in) => w -> in.digest } :+
      ("business" -> Gen.digest(Gen.bizCustomers(seed).iterator.map(_.toString)))

  /** Per hot table, the fewest deliveries any one batch routes to it. */
  def minTouches(in: Gen.Inputs): Seq[(String, Int)] =
    HotTables.map(t => t -> in.batches.map(_.count(_.table == t)).min)

  def main(args: Array[String]): Unit = {
    val seeds = Seq(1L, 2L, 12345L)
    val failures = seeds.flatMap { seed =>
      val (a, b, other) = (digests(seed), digests(seed), digests(seed + 1))
      val determinism = a.zip(b).zip(other).flatMap { case (((w, x), (_, y)), (_, z)) =>
        (if (x != y) Seq(s"$w seed $seed: two generations differ") else Nil) ++
          (if (x == z) Seq(s"$w seeds $seed and ${seed + 1} give the same inputs") else Nil)
      }
      val coverage = inputs(seed).flatMap { case (w, in) =>
        val touches = minTouches(in)
        println(s"$w seed $seed: fewest deliveries per batch by table " +
          touches.map { case (t, n) => s"$t=$n" }.mkString(" "))
        touches.collect { case (t, 0) => s"$w seed $seed: a batch does not touch $t" }
      }
      determinism ++ coverage
    }
    failures.foreach(f => println(s"FAIL $f"))
    println(if (failures.isEmpty) s"generator self-test: ok (${seeds.size} seeds)"
      else s"generator self-test: ${failures.size} failures")
    sys.exit(if (failures.isEmpty) 0 else 1)
  }
}
