package graft

import org.scalatest.funsuite.AnyFunSuite

/** Lab rejects a bad command line by name, before it starts a session. */
class LabSpec extends AnyFunSuite {

  private def rejected(args: String*): String =
    intercept[IllegalArgumentException](Lab.check(args)).getMessage

  test("an unknown subcommand or query name fails, naming it") {
    assert(rejected("tiem").contains("tiem"))
    assert(rejected("time", "kg05_event_map_wkts", "no_such_query").contains("no_such_query"))
    assert(rejected().contains("usage"))
    assert(rejected("docs").contains("docs"))
    // main checks before it builds a session: a bad name never reaches
    // the session or the subcommand dispatch
    assert(intercept[IllegalArgumentException](Lab.main(Array("probe")))
      .getMessage.contains("probe"))
  }

  test("known subcommands and query names pass the check") {
    Lab.check(Seq("time"))
    Lab.check(Seq("time", "kg05_event_map_wkts", "d02_lsh_pairs"))
    Seq("d02", "kg16", "profile", "synth").foreach(c => Lab.check(Seq(c)))
    Lab.check(Seq("docs", "some/dir"))
    Lab.check(Seq("kg", "a/sf0.2", "b/sf0.4"))
  }
}
