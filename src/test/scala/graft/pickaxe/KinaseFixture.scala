package graft.pickaxe

import org.apache.spark.sql.SparkSession

/** The reference's ATP and ADP coreactant rows and its kinase rule
  * 2.7.1.a (tests/data), held inline so the specs that need only these
  * run on any host.
  */
object KinaseFixture {
  /** FADH, the reference tests' starting compound. */
  val fadh = "Cc1cc2c(cc1C)N(CC(O)C(O)C(O)COP(=O)(O)OP(=O)(O)OCC1OC" +
    "(n3cnc4c(N)ncnc43)C(O)C1O)c1nc(O)nc(O)c1N2"
  val atp = "Nc1ncnc2c1ncn2C1OC(COP(=O)(O)OP(=O)(O)OP(=O)(O)O)C(O)C1O"
  val adp = "Nc1ncnc2c1ncn2C1OC(COP(=O)(O)OP(=O)(O)O)C(O)C1O"
  val rule = "[#6;H2D4:8][#8;H0D2:7][#15;H0D4:6][#8;H0D2:5]" +
    "[#15;H0D4:4][#8;H0D2:3][#15;H0D4:2][#8;H1D2R0:1]." +
    "[#1;D1R0:11][#8;H1D2R0:10][#6:9]>>" +
    "[*:1]-[*:2]-[*:10]-[*:9].[*:8]-[*:7]-[*:6]-[*:5]-[*:4]-[*:3]-[*:11]"

  /** The coreactant and rule TSV lines, as the reference's files hold
    * them.
    */
  val coreactantLines = Seq(s"ATP\tATP\t$atp", s"ADP\tADP\t$adp")
  val ruleLines = Seq(s"2.7.1.a\tATP;Any\t$rule\tAny;ADP\t-")

  lazy val core: Seq[CoreactantRow] =
    PickaxeEngine.parseCoreactants(coreactantLines)

  def engine(spark: SparkSession): PickaxeEngine = new PickaxeEngine(spark,
    PickaxeEngine.parseRules(ruleLines, core), core, explicitH = true)
}
