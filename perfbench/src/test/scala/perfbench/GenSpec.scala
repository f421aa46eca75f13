package perfbench

import org.scalatest.funsuite.AnyFunSuite

import graft.ingest.IngestJob

class GenSpec extends AnyFunSuite {

  private val shape = Shape(archives = 20, steps = (2, 4), motion = (5, 20), mic = (5, 20),
    withTaskData = true, withWeather = true, invalidShare = 0.3, uploadDays = 3)
  private val epoch = java.time.Instant.parse("2022-02-01T00:00:00Z").toEpochMilli

  private def archives(b: Batch): Seq[(Map[String, String], Seq[Byte])] =
    b.records.map(r => r.metadata -> r.zipBytes.toSeq)

  test("the same seed gives byte-identical archives") {
    assert(archives(Gen.batch(shape, 7, epoch)) == archives(Gen.batch(shape, 7, epoch)))
  }

  test("another seed gives different archives") {
    val a = archives(Gen.batch(shape, 7, epoch))
    val b = archives(Gen.batch(shape, 8, epoch))
    assert(a.map(_._2).toSet.intersect(b.map(_._2).toSet).isEmpty)
    assert(a.map(_._1("recordid")) != b.map(_._1("recordid")))
  }

  test("the counts the generator reports match the archives it builds") {
    val b = Gen.batch(shape, 7, epoch)
    val cfg = Gen.ingestConfig
    val (valid, invalid) = b.records.partition(IngestJob.validateRecord(_, cfg).isEmpty)
    assert(invalid.nonEmpty && valid.nonEmpty)
    val quarantined = invalid.flatMap(r =>
      IngestJob.validateRecord(r, cfg).keys.map(r.metadata("recordid") -> _)).toSet
    assert(quarantined == b.expect.quarantine)
    val lines = valid.flatMap(IngestJob.routeRecord(_, cfg))
      .groupBy(_.dataset).map { case (d, ls) => d -> ls.size.toLong }
    assert(lines == b.expect.lines)
    b.expect.lines.foreach { case (ds, n) =>
      if (graft.schema.TableCatalog.default.contains(ds))
        assert(b.expect.cells((ds, "")) == n, ds)
    }
    assert(b.zippedBytes == b.records.map(_.zipBytes.length.toLong).sum)
    assert(b.manifest.map(_._1).distinct.size == shape.archives)
  }
}
