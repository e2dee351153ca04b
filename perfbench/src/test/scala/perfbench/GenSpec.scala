package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  test("the same seed yields identical inputs") {
    assert(Gen.vector(7, 3, 42, 384).sameElements(Gen.vector(7, 3, 42, 384)))
    assert(Gen.query(7, 0, 5, 384).sameElements(Gen.query(7, 0, 5, 384)))
    assert(Gen.docId(7, 3, 42) == Gen.docId(7, 3, 42))
    assert((1L to 300L).map(Gen.docRow(7, _)) == (1L to 300L).map(Gen.docRow(7, _)))
    assert(Gen.chunkRow(7, 1, "c", 9, 16) == Gen.chunkRow(7, 1, "c", 9, 16))
  }

  test("a different seed yields different inputs") {
    assert(!Gen.vector(7, 3, 42, 384).sameElements(Gen.vector(8, 3, 42, 384)))
    assert(!Gen.query(7, 0, 5, 384).sameElements(Gen.query(8, 0, 5, 384)))
    assert(Gen.docId(7, 3, 42) != Gen.docId(8, 3, 42))
    assert((1L to 300L).map(Gen.docText(7, _)) != (1L to 300L).map(Gen.docText(8, _)))
  }

  test("the corpus has the duplicate, language and PII mix it promises") {
    val n = 4000L
    val kinds = (1L to n).map(Gen.kind(11, _))
    val exact = kinds.count(_.isInstanceOf[Gen.ExactDup]).toDouble / n
    val near = kinds.count(_.isInstanceOf[Gen.NearDup]).toDouble / n
    assert(exact > 0.01 && exact < 0.03, s"exact dups $exact")
    assert(near > 0.07 && near < 0.13, s"near dups $near")
    kinds.zipWithIndex.collect { case (Gen.ExactDup(of), i) =>
      assert(Gen.docText(11, i + 1L) == Gen.docText(11, of))
    }
    assert((1L to n).map(Gen.docLang(11, _)).toSet == Gen.Langs.toSet)
    val pii = (1L to n).count(i => Gen.docText(11, i).contains("@mail.example.com")).toDouble / n
    assert(pii > 0.03 && pii < 0.08, s"pii share $pii")
  }
}
