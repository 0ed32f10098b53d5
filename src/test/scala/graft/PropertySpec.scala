package graft

import graft.functions.TimeFunctions
import graft.operators.Chunker
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

/** ScalaCheck property suites (SURVEY §5: chunker invariants, ISO
  * normalization stability). Pure-function properties — no Spark session,
  * so they run fast under sbt's ScalaCheck framework.
  */
object ChunkerProps extends Properties("Chunker") {

  private val wordGen = Gen.chooseNum(1, 10).flatMap(n =>
    Gen.listOfN(n, Gen.alphaLowerChar).map(_.mkString))
  private val textGen = Gen.chooseNum(0, 150).flatMap(n =>
    Gen.listOfN(n, wordGen).map(_.mkString(" ")))

  property("chunks never exceed chunkSize when text is word-splittable") =
    forAll(textGen) { text =>
      Chunker.recursiveSplit(text, chunkSize = 80, overlap = 20)
        .forall(_.length <= 80)
    }

  property("every word of the input appears in some chunk") =
    forAll(textGen) { text =>
      val chunks = Chunker.recursiveSplit(text, chunkSize = 80, overlap = 20)
      val joined = chunks.mkString(" ")
      text.split(" ").filter(_.nonEmpty).forall(joined.contains(_))
    }

  property("deterministic: same input, same chunks") =
    forAll(textGen) { text =>
      Chunker.recursiveSplit(text) == Chunker.recursiveSplit(text)
    }

  property("fixed-stride count formula: n = 1 + ceil((len-size)/stride) for len>size") =
    forAll(Gen.chooseNum(1, 5000)) { len =>
      val size = 800; val stride = 700
      val expected =
        if (len == 0) 0
        else if (len <= size) 1
        else 1 + math.ceil((len - size).toDouble / stride).toInt
      // mirror of the Column-side arithmetic in fixedStrideChunkArray
      val n =
        if (len == 0) 0
        else if (len <= size) 1
        else math.ceil((len - size).toDouble / stride).toInt + 1
      n == expected
    }
}

object TimeProps extends Properties("TimeFunctions") {

  private val instantGen = Gen.chooseNum(0L, 4102444800L) // 1970..2100
  private val fracGen = Gen.chooseNum(0, 999999)

  property("idempotent: normalizing a normalized string is identity") =
    forAll(instantGen, fracGen) { (epoch, micro) =>
      val odt = java.time.Instant.ofEpochSecond(epoch, micro * 1000L)
        .atOffset(java.time.ZoneOffset.UTC)
      val once = TimeFunctions.parseToIso8601Utc(odt.toString)
      once.isDefined && TimeFunctions.parseToIso8601Utc(once.get) == once
    }

  property("offset inputs land on the same instant in UTC") =
    forAll(instantGen, Gen.chooseNum(-12, 12)) { (epoch, offH) =>
      val off = java.time.ZoneOffset.ofHours(offH)
      val odt = java.time.Instant.ofEpochSecond(epoch).atOffset(off)
      val viaOffset = TimeFunctions.parseToIso8601Utc(odt.toString)
      val direct = TimeFunctions.parseToIso8601Utc(
        java.time.Instant.ofEpochSecond(epoch).atOffset(java.time.ZoneOffset.UTC).toString)
      viaOffset == direct
    }

  property("output always ends with +00:00 and parses back") =
    forAll(instantGen) { epoch =>
      val s = TimeFunctions.parseToIso8601Utc(
        java.time.Instant.ofEpochSecond(epoch).atOffset(java.time.ZoneOffset.UTC).toString)
      s.exists(v => v.endsWith("+00:00") &&
        java.time.OffsetDateTime.parse(v).toEpochSecond == epoch)
    }
}

/** BPE tokenizer invariants: token concatenation reconstructs the word,
  * doc count = sum of word counts, determinism. */
object BpeProps extends Properties("BpeTokenizer") {
  import graft.functions.BpeTokenizer

  private val wordGen = Gen.chooseNum(1, 12).flatMap(n =>
    Gen.listOfN(n, Gen.frequency(
      8 -> Gen.alphaChar, 1 -> Gen.numChar,
      1 -> Gen.oneOf('.', ',', '!', '?', '-'))).map(_.mkString))
  private val textGen = Gen.chooseNum(0, 40).flatMap(n =>
    Gen.listOfN(n, wordGen).map(_.mkString(" ")))

  property("tokens concatenate back to the word (lossless)") =
    forAll(wordGen) { w =>
      BpeTokenizer.tokenizeWord(w).mkString == w
    }

  property("doc count = sum of per-word counts") =
    forAll(textGen) { t =>
      val words = t.trim.split("\\s+").filter(_.nonEmpty).toSeq
      BpeTokenizer.countTokens(t) ==
        words.map(w => BpeTokenizer.tokenizeWord(w).length).sum
    }

  property("count is deterministic and nonnegative") =
    forAll(textGen) { t =>
      val a = BpeTokenizer.countTokens(t)
      a >= 0 && a == BpeTokenizer.countTokens(t)
    }
}
