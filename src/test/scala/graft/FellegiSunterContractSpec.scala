package graft

import graft.core.RunScope
import graft.link.FellegiSunter

/** Input contracts of the Fellegi–Sunter entry points: every fit that
  * collects pattern counts refuses an empty pair set, the γ field count
  * stays within 1..16, and a frozen u has one value per γ field. */
class FellegiSunterContractSpec extends SparkSpec {

  private val gcols = Seq("g_a", "g_b")

  private def refusal(body: => Any): String =
    intercept[IllegalArgumentException](body).getMessage

  test("every pattern-count entry point refuses an empty pair frame") {
    import spark.implicits._
    val empty = Seq.empty[(Int, Int, String)].toDF("g_a", "g_b", "v")
    val records = Seq("p", "q").toDF("v")
    val fits: Seq[(String, () => Any)] = Seq(
      "emClassify" -> (() => FellegiSunter.emClassify(empty, gcols)),
      "emClassifyFixedU" -> (() =>
        FellegiSunter.emClassifyFixedU(empty, gcols, Seq(1000L, 2000L))),
      "patternIndependence" -> (() =>
        FellegiSunter.patternIndependence(empty, gcols)),
      "emTrace" -> (() => FellegiSunter.emTrace(empty, gcols)),
      "emClassifyLevels" -> (() =>
        FellegiSunter.emClassifyLevels(empty, Seq(("g_a", 3), ("g_b", 2)))),
      "tfAdjustedPosteriors" -> (() => RunScope.run(
        FellegiSunter.tfAdjustedPosteriors(empty, gcols, "g_b", "v",
          records, "v"))))
    fits.foreach { case (name, fit) =>
      assert(refusal(fit()).contains("no candidate pairs"), name)
    }
  }

  test("emClassify refuses 0 and 17 gamma columns") {
    import spark.implicits._
    val pairs = Seq((1, 0), (0, 1)).toDF("g_a", "g_b")
    Seq(Seq.empty[String], Seq.tabulate(17)(i => s"g_$i")).foreach { cols =>
      assert(refusal(FellegiSunter.emClassify(pairs, cols))
        .contains("1..16 gamma fields"), s"${cols.size} columns")
    }
  }

  test("emClassifyFixedU refuses a frozen u of the wrong length") {
    import spark.implicits._
    val pairs = Seq((1, 0), (0, 1)).toDF("g_a", "g_b")
    Seq(Seq(1000L), Seq(1000L, 2000L, 3000L)).foreach { u =>
      assert(refusal(FellegiSunter.emClassifyFixedU(pairs, gcols, u))
        .contains("one frozen u per gamma field"), s"${u.size} values")
    }
  }
}
