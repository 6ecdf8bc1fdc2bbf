package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.config.ScanConfig
import graft.operators.TypeInference.{CharacterT, NumericT}
import graft.sources.DelimitedSource

/** The delimited read's missing-value rule: the reference reads with
  * fread's default `na.strings = "NA"` (whiteRRabbit.R:236), so a cell
  * that is exactly `NA` is missing. Fixtures live in a fresh temp
  * directory per test.
  */
class DelimitedSourceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def tsv(lines: Seq[String]): String = {
    val p = Files.createTempDirectory("graft-delimited").resolve("t.tsv")
    Files.write(p, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    p.toString
  }

  test("literal NA cells are missing: a decimal column with NA and " +
      "empty cells is numeric, and a column headed NA keeps its name") {
    // amount: 6 decimals, 2 literal NA cells, 2 empty cells; a text
    // column headed NA; a column of quoted empty cells
    val amounts = Seq("1.5", "NA", "", "2.25", "7.75", "NA", "3.0", "",
      "0.25", "9.5")
    val path = tsv("amount\tNA\tquoted" +: amounts.zipWithIndex.map {
      case (a, i) => s"$a\tv$i\t\"\""
    })
    val raw = DelimitedSource.read(spark, path, "\t")
    assert(raw.columns.toSeq == Seq("amount", "NA", "quoted"))
    assert(raw.where(raw("amount").isNull).count() == 4)
    assert(raw.where(raw("quoted").isNull).count() == 10)

    val r = Scan.scanFile(spark, path, ScanConfig())
    assert(r.inference("amount") == NumericT)
    assert(r.inference("NA") == CharacterT)
    val s = r.summary.collect()
      .map(x => x.getAs[String]("column_name") -> x).toMap
    assert(s.keySet == Set("amount", "NA", "quoted"))
    assert(s("amount").getAs[Long]("missing_count") == 4)
    assert(s("amount").getAs[Long]("non_missing") == 6)
    assert(math.abs(s("amount").getAs[Double]("mean_val") - 24.25 / 6)
      < 1e-12)
    assert(s("NA").getAs[Long]("non_missing") == 10)
  }
}
