package graft

import graft.operators.Gates
import java.nio.file.{Files, Paths}

/** Failure paths of the driver-side scaffolds: a gate whose body throws
  * after it set session conf and built its warehouses leaves neither
  * behind, and a failed leg of concurrent driver work returns only once
  * every leg has settled. */
class GatesSpec extends SparkSpec {

  test("a throwing gate propagates its error, deletes its warehouses and restores conf") {
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val names = Seq(s"gatespec-pri-$tag", s"gatespec-sec-$tag")
    val (setKey, freshKey) = (s"spark.graft.test.set.$tag", s"spark.graft.test.fresh.$tag")
    spark.conf.set(setKey, "prior")
    var seen = Seq.empty[String]
    val err = intercept[IllegalStateException] {
      Driver.withConf(spark, setKey -> "inside", freshKey -> "inside") {
        Gates.gate(spark, names: _*) { whs =>
          seen = whs
          whs.foreach(wh => new warehouse.SnapshotTable(spark, wh)
            .createOrReplace(spark.range(10).toDF("id")))
          assert(whs.forall(wh => Files.isDirectory(Paths.get(wh))))
          assert(spark.conf.get(setKey) == "inside" && spark.conf.get(freshKey) == "inside")
          throw new IllegalStateException("gate body failed")
        }
      }
    }
    assert(err.getMessage == "gate body failed")
    assert(seen == names.map(n => s"${Driver.scratchRoot}/$n"))
    seen.foreach(wh => assert(!Files.exists(Paths.get(wh)), s"$wh left behind"))
    assert(spark.conf.get(setKey) == "prior")
    assert(spark.conf.getOption(freshKey).isEmpty)
    spark.conf.unset(setKey)
  }

  test("awaitAll lets every leg settle, then rethrows the first failure in submission order") {
    import scala.concurrent.Future
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    val slowLegDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    try {
      val first = Future[Int] { Thread.sleep(200); throw new IllegalStateException("first") }
      val second = Future[Int](throw new IllegalStateException("second"))
      val slow = Future { Thread.sleep(400); slowLegDone.set(true); 3 }
      val err = intercept[IllegalStateException](Driver.awaitAll(Seq(first, second, slow)))
      assert(err.getMessage == "first")
      assert(slowLegDone.get, "awaitAll returned while a leg was still running")
    } finally pool.shutdown()
  }
}
