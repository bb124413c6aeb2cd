package graft

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, BindReferences, Expression}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.{Lenient, LenientChain}

/** Differential property: the one-scan kernel of `Lenient.toInt`/`toFloat`
  * against the chain of built-ins it replaces on plain numbers, over 5,000
  * strings generated from a fixed seed, for both casts, warn off and on, and
  * default and swapped separators. Values compare bit for bit
  * (`doubleToRawLongBits`, so -0.0 is not 0.0); in warn mode the kernel must
  * raise exactly where the chain raises, with the same message. The query
  * form runs compiled (whole-stage codegen) and interpreted, with the same
  * values. Which strings the scan answers itself is pinned on two fixed
  * lists.
  */
class LenientNumberSpec extends SparkSpec {

  private def digits(lo: Int, hi: Int): Gen[String] =
    Gen.choose(lo, hi).flatMap(n => Gen.listOfN(n, Gen.numChar)).map(_.mkString)

  // a number as meza's inputs write it: sign, leading zeros, 0-17 integer
  // digits (14-17 straddle the 15-digit limit), an optional fraction, and
  // optional grouping of the integer part
  private val number: Gen[String] = for {
    sign <- Gen.frequency(6 -> "", 3 -> "-", 1 -> "+")
    zeros <- Gen.frequency(6 -> "", 2 -> "0", 1 -> "00")
    int <- Gen.frequency(1 -> digits(0, 0), 4 -> digits(1, 6), 1 -> digits(7, 13),
      3 -> digits(14, 17))
    frac <- Gen.frequency(4 -> Gen.const(None), 5 -> digits(0, 5).map(Some(_)),
      1 -> digits(14, 17).map(Some(_)))
    grouped <- Gen.frequency(3 -> false, 1 -> true)
    point <- Gen.frequency(3 -> ".", 1 -> ",")
  } yield {
    val i = zeros + int
    val g = if (grouped) i.reverse.grouped(3).map(_.reverse).toSeq.reverse.mkString(",") else i
    sign + g + frac.fold("")(point + _)
  }

  private val noise: Gen[String] = Gen.frequency(
    4 -> Gen.oneOf("$", "£", "€"), 3 -> Gen.const(","), 2 -> Gen.const("."),
    2 -> Gen.oneOf("-", "+"), 1 -> Gen.oneOf(" ", "e5", "E-3", "d", "٣", "１"))

  // the number with currency symbols, separators and signs put anywhere
  private val decorated: Gen[String] = for {
    n <- number
    k <- Gen.frequency(4 -> 0, 4 -> 1, 2 -> 2, 1 -> 3)
    adds <- Gen.listOfN(k, Gen.zip(Gen.choose(0, n.length), noise))
  } yield adds.foldLeft(n) { case (s, (at, t)) =>
    val p = math.min(at, s.length)
    s.take(p) + t + s.drop(p)
  }

  private val special: Gen[String] = Gen.oneOf("", " ", "  5", "5 ", "NaN", "-NaN",
    "Infinity", "-Infinity", "inf", "n/a", "spam", "1e5", "-1E-5", ".5", "5.", "-.5",
    "-5.", "-", "$", "+5", "5-", "0x1A", "1d", "١٢٣", "１２",
    "0", "-0", "00", "0.0", "-0.0", "0123", "-0123", "0,123", "0.", "00.5")

  private val input: Gen[String] = Gen.frequency(8 -> decorated, 1 -> special)

  private val N = 5000

  private type Outcome = Either[String, Any]

  private def same(a: Outcome, b: Outcome): Boolean = (a, b) match {
    case (Right(x: Double), Right(y: Double)) =>
      java.lang.Double.doubleToRawLongBits(x) == java.lang.Double.doubleToRawLongBits(y)
    case _ => a == b
  }

  /** `cols` analysed and bound to the one string column `x`, for
    * interpreted evaluation string by string. */
  private def bound(cols: Column*): Seq[Expression] = {
    val df = spark.createDataFrame(spark.sparkContext.parallelize(Seq(Row("1")), 1),
      StructType(Seq(StructField("x", StringType))))
    val p = df.select(cols.zipWithIndex.map { case (c, i) => c.as(s"c$i") }: _*)
      .queryExecution.optimizedPlan.collectFirst { case p: Project => p }.get
    p.projectList.map { e =>
      BindReferences.bindReference(e.collectFirst { case a: Alias => a.child }.get, p.child.output)
    }
  }

  private def run(e: Expression, s: String): Outcome =
    try Right(e.eval(InternalRow(if (s == null) null else UTF8String.fromString(s))))
    catch { case t: Exception => Left(t.getMessage) }

  // plain numbers (default separators) the scan answers itself, in warn
  // mode only those the chain accepts ("0123" and "1.5" are not ints there)
  private val plain = Seq("0", "5", "-5", "$5", "-$5", "$-5", "5.", "0.0", "-0.0", "00",
    "0123", "1,234.50", "£1,234.50", "123€", "12,34,5", "123456789012345",
    "1.99999999999999", "-0.00000000000001")
  // strings the scan leaves to the chain whatever the cast
  private val others = Seq("", " 5", "5 ", "+5", "5-", "1e5", "NaN", "Infinity", ".5", "-.5",
    "n/a", "-", "$", "1.2.3", "1234567890123456", "1.999999999999999", "١٢٣", "0x1A")

  private def swapSeps(s: String): String =
    s.map { case ',' => '.'; case '.' => ','; case ch => ch }

  private val configs = for {
    integral <- Seq(true, false)
    warn <- Seq(false, true)
    seps <- Seq((",", "."), (".", ","))
  } yield (integral, warn, seps)

  private def cast(integral: Boolean, warn: Boolean, thou: String, dec: String) = {
    val x = col("x")
    val label = s"${if (integral) "toInt" else "toFloat"} warn=$warn sep='$thou''$dec'"
    val (kernel, chain) =
      if (integral) (Lenient.toInt(x, thou, dec, warn), LenientChain.toInt(x, thou, dec, warn))
      else (Lenient.toFloat(x, thou, dec, warn), LenientChain.toFloat(x, thou, dec, warn))
    (label, kernel, chain, LenientChain.scan(x, integral, thou, dec, warn))
  }

  test(s"kernel equals the chain bit for bit on $N generated strings, both casts, warn, separators") {
    val seed = Seed(20261017L)
    val strings = (null +: Gen.listOfN(N, input).pureApply(Gen.Parameters.default, seed)).distinct
    for ((integral, warn, (thou, dec)) <- configs) {
      val (label, kernel, chain, _) = cast(integral, warn, thou, dec)
      val Seq(k, c) = bound(kernel, chain)

      // interpreted, string by string: values and raises
      val outcomes = strings.map(s => (s, run(k, s), run(c, s)))
      val bad = outcomes.filterNot { case (_, a, b) => same(a, b) }
      assert(bad.isEmpty, s"$label: ${bad.size} differ, e.g. " +
        bad.take(8).map { case (s, a, b) => s"'$s' kernel=$a chain=$b" }.mkString("; "))
      if (warn) assert(outcomes.exists(_._3.isLeft), s"$label: no string raised")

      // the same cast through a real query, on every string the chain does
      // not raise on
      val ok = outcomes.collect { case (s, _, Right(_)) => s }
      val rows = ok.zipWithIndex.map { case (s, i) => Row(i, s) }
      val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
        StructType(Seq(StructField("i", IntegerType),
          StructField("x", StringType))))
      // compiled and interpreted, each against the chain and against each other
      val (compiled, interpreted) =
        compiledAndInterpreted(df.select(col("i"), kernel.as("k"), chain.as("c")).collect())
      for ((mode, got) <- Seq("compiled" -> compiled, "interpreted" -> interpreted)) {
        assert(got.length == ok.size)
        val diff = got.filterNot(r => same(Right(r.get(1)), Right(r.get(2))))
        assert(diff.isEmpty, s"$label ($mode query): " +
          diff.take(8).map(r => s"'${ok(r.getInt(0))}' kernel=${r.get(1)} chain=${r.get(2)}").mkString("; "))
      }
      val byI = interpreted.map(r => r.getInt(0) -> r.get(1)).toMap
      assert(compiled.forall(r => same(Right(r.get(1)), Right(byI(r.getInt(0))))),
        s"$label: compiled and interpreted kernels differ")
    }
  }

  test("the scan answers plain numbers itself and leaves the rest to the chain") {
    for ((integral, warn, (thou, dec)) <- configs) {
      val (label, kernel, chain, scan) = cast(integral, warn, thou, dec)
      val Seq(k, c, sc) = bound(kernel, chain, scan)
      val fix = if (thou == ",") identity[String] _ else swapSeps _
      def hits(s: String) = run(sc, s) match { case Right(v) => v != null; case _ => false }
      val want = plain.map(fix).filter(s => !warn || run(c, s).isRight)
      assert(want.size >= plain.size / 2, s"$label: ${want.size} plain numbers")
      val missed = want.filterNot(hits)
      assert(missed.isEmpty, s"$label: the scan missed ${missed.mkString("'", "', '", "'")}")
      val caught = (others.map(fix) ++ plain.map(fix).diff(want)).filter(hits)
      assert(caught.isEmpty, s"$label: the scan answered ${caught.mkString("'", "', '", "'")}")
      // the hits hold the chain's values
      for (s <- want) assert(same(run(sc, s), run(c, s)) && same(run(k, s), run(c, s)), s"$label: '$s'")
    }
  }
}
