package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TokenizerRegistry

/** Tokenizers resolve by name without any query object having run. */
class TokenizerRegistrySpec extends AnyFunSuite {

  test("the prefix4 plugin tokenizer resolves before SpecialQueries is touched") {
    assert(TokenizerRegistry("prefix4").tokensLit("Promo POLISHED promo") ==
      Seq("prom", "poli"))
    assert(TokenizerRegistry.registered.contains("prefix4"))
  }
}
