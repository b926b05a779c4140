package graft

import org.apache.spark.sql.functions._

import graft.core.Fixpoint

class FixpointSpec extends SparkTestBase {

  test("observedRound reads its aggregate in the checkpoint's job, null as 0") {
    val df = spark.range(10).toDF("id")
    val ((out, n), jobs) = jobsOf(Fixpoint.observedRound(Fixpoint.localCheckpointer,
      "graft_fixpoint_spec", 1, df, sum(col("id")), (col("id") * 2).as("twice")))
    assert(n === 45L)
    assert(jobs === 1)
    assert(out.columns.toSeq === Seq("twice"))
    val (_, empty) = Fixpoint.observedRound(Fixpoint.localCheckpointer,
      "graft_fixpoint_spec", 2, df.where(col("id") < 0), max(col("id")))
    assert(empty === 0L)
  }

  test("scratch materializes its result before deleting the dir, and deletes it on a throw") {
    val prefix = "graft-fixpoint-spec"
    val before = scratchDirs(prefix)
    val out = Fixpoint.scratch(spark, prefix, Fixpoint.parquetCheckpointer) { checkpoint =>
      checkpoint(spark.range(5).toDF("id"), 1)
    }
    assert(scratchDirs(prefix) === before)
    assert(out.collect().map(_.getLong(0)).sorted.toSeq === (0L until 5L))
    val e = intercept[IllegalStateException] {
      Fixpoint.scratch(spark, prefix, Fixpoint.parquetCheckpointer) { checkpoint =>
        checkpoint(spark.range(5).toDF("id"), 1)
        throw new IllegalStateException("cap")
      }
    }
    assert(e.getMessage === "cap")
    assert(scratchDirs(prefix) === before)
  }
}
