package graft.plans

/** The measured operating points of the [[AnnTopKRewrite]] quantized
  * tiers — ONE source of truth for constants that used to be pinned by
  * hand in three places (the SparkEntry registration, the AnnOracle
  * mirror's probe/cut CTEs, and the Verify recall gate — r17 ADVICE #4:
  * editing one without the others silently broke the mirror or the
  * gate). Every value is a measurement from the `graft.AnnRuleSweep`
  * main (now kept only in git history) at sf0.1, k = [[K]]; gates sit at ~half the sf0.1 measurement (the
  * repo's gate discipline — above the broken-probe and halved-recall
  * regression classes, under data-drift noise).
  */
object AnnRulePoints {

  /** k of the naive brute-force top-k the registry queries/gates spell
    * (`.limit(K)`) — the oracle mirrors cut `rn <= K` and the coarse
    * stage at `K * overfetch`.
    */
  val K = 11

  // ---- plain-PQ tier (`ann_rule_ivfpq`) — r17 sweep @sf0.1:
  // (5,4) 0.273 / (7,32) 0.636 / (7,64) 0.818 at the grid's lowest
  // latency; recall 1.000 @sf0.01.
  val PqNProbe = 7
  val PqOverfetch = 64
  val PqRecallGate = 0.4

  // ---- residual-PQ tier (`ann_rule_ivfpq_residual`) — r18 sweep
  // @sf0.1 over the SAME grid on the residual-encoded layout (IVFADC
  // ordering: codes quantize x − centroid(cell), LUTs from the query
  // residual per probed cell). Measured frontier @sf0.1, k=11:
  // (5,32) 0.727 / (6,32) 0.727 / (7,32) 0.818 / (7,64) 0.909 at
  // 0.296 s — i.e. the residual codes REACH the nProbe=7 probe-coverage
  // ceiling (the exact-cell tier reads 0.909 at the same probe), so
  // the r17 ADC-informativeness gap (plain PQ 0.818) is fully
  // reclaimed: every remaining miss is probe coverage, not ordering.
  // Residual ≥ plain at 13/15 grid points.
  val PqResNProbe = 7
  val PqResOverfetch = 64
  val PqResRecallGate = 0.45
}
