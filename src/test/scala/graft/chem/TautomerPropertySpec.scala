package graft.chem

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** Property pins for the aromatic-NH tautomer pick (P8,
  * utils.postsanitize_smiles:441-517). The residual vs the reference is
  * RDKit-SanitizeMol-level (measured non-tautomeric: 1807 compounds in
  * 1807 flip-closure classes, pinned in FilterParitySpec);
  * these properties bound what the implemented flip DOES guarantee:
  * class-collapse, idempotence, minimality, and determinism — so the
  * "partial" adjudication rests on a tight, machine-checked contract.
  */
class TautomerPropertySpec extends AnyFunSuite {

  private val params = SCTest.Parameters.default
    .withMinSuccessfulTests(200)
    .withInitialSeed(org.scalacheck.rng.Seed(0xC0FFEE_11L))

  private def check(p: Prop): Unit = {
    val r = SCTest.check(params, p)
    assert(r.passed, r.status.toString)
  }

  /** Tautomer classes: distinct valid SMILES spellings of the same
    * 1,3-NH flip system. Every member must collapse to one
    * representative. Substituent slots marked with %s.
    */
  private val classes: Seq[Seq[String]] = Seq(
    Seq("c1c[nH]cn1", "c1cnc[nH]1"),                 // imidazole
    Seq("%sc1c[nH]cn1", "%sc1cnc[nH]1"),             // 4(5)-R-imidazole
    Seq("c1ccc2[nH]cnc2c1", "c1ccc2nc[nH]c2c1"),     // benzimidazole
    Seq("%sc1nc2ccccc2[nH]1", "%sc1[nH]c2ccccc2n1")  // 2-R-benzimidazole
  )
  private val substituents =
    Seq("C", "CC", "O", "N", "F", "Cl", "CO", "C(C)C")

  private val genMember: Gen[(Seq[String], String)] = for {
    cls <- Gen.oneOf(classes)
    sub <- Gen.oneOf(substituents)
    filled = cls.map(s => if (s.contains("%s")) s.format(sub) else s)
    m <- Gen.oneOf(filled)
  } yield (filled, m)

  test("all spellings of a tautomer class collapse to one representative") {
    check(Prop.forAll(genMember) { case (cls, _) =>
      val reps = cls.map(s => Chem.postsanitize(Smiles.canonical(s))).distinct
      reps.sizeIs == 1
    })
  }

  test("postsanitize is idempotent and deterministic") {
    check(Prop.forAll(genMember) { case (_, m) =>
      val once = Chem.postsanitize(Smiles.canonical(m))
      Chem.postsanitize(once) == once &&
        Chem.postsanitize(Smiles.canonical(m)) == once
    })
  }

  test("postsanitize never increases the SMILES lexicographically " +
    "(min over {variants + original})") {
    check(Prop.forAll(genMember) { case (_, m) =>
      val canon = Smiles.canonical(m)
      Chem.postsanitize(canon) <= canon
    })
  }

  test("postsanitize leaves N-free and non-aromatic molecules untouched") {
    val plain = Gen.oneOf(Seq(
      "CCO", "CC(=O)O", "c1ccccc1", "C1CCNCC1", "CC(N)C(=O)O",
      "OCC1OC(O)C(O)C(O)C1O"))
    check(Prop.forAll(plain) { s =>
      val canon = Smiles.canonical(s)
      Chem.postsanitize(canon) == canon
    })
  }
}
