package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

/** Regenerates `expected.tsv`: runs every inventory entry twice in one
  * session, keeps its fingerprint only if both runs agree, records the
  * second (warm) run's seconds as the entry's cost and the operator layers
  * its executed plan uses, and dumps each
  * result as parquet next to its oracle SQL so `crosscheck.py` can compare
  * it with DuckDB.
  *
  *   expect <dataDir> <outDir> [name ...]
  */
object Expect {
  def main(args: Array[String]): Unit = {
    val Array(data, out) = args.take(2)
    val only = args.drop(2).toSet
    val cores = Runtime.getRuntime.availableProcessors
    val spark = Session.start(s"$out/work", cores)
    graft.core.Ckpt.recording = true
    val oracle = graft.SparkEntry.oracleSql
    val lines = Seq.newBuilder[String]
    val twins = Seq.newBuilder[(String, String)]
    Inventory.all.filter(e => only.isEmpty || only(e.name)).foreach { e =>
      def once(): (Long, String, Double, Seq[String]) = {
        graft.core.Ckpt.drain()
        val t0 = System.nanoTime()
        val (r, ps) = graft.core.Ckpt.scoped {
          val f = Inventory.fingerprint(e.q(spark, data))
          val r = f.collect()(0)
          (r, (f.queryExecution.executedPlan +: graft.core.Ckpt.drain().map(_._2)).flatMap(Tracer.nodes))
        }
        val t = (System.nanoTime() - t0) / 1e9
        graft.core.Debris.sweep(spark)
        val uses = Seq("functions" -> Tracer.usesFunctions(ps), "plans" -> Tracer.usesPlans(ps)).collect {
          case (layer, true) => layer
        }
        (r.getLong(0), r.getDecimal(1).toPlainString, t, uses)
      }
      try {
        val (rows, fp, t1, _) = once()
        val (rows2, fp2, t2, uses) = once()
        val stable = rows == rows2 && fp == fp2
        val hasTwin = oracle.contains(e.name)
        if (hasTwin && stable) {
          // INT96 timestamps read back naive in DuckDB, like the oracle's
          spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
          graft.core.Ckpt.scoped {
            e.q(spark, data).coalesce(1).write.mode("overwrite").parquet(s"$out/results/${e.name}")
          }
          spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
          twins += e.name -> oracle(e.name)
        }
        val status = if (!stable) "unstable" else if (hasTwin) "twin" else "none"
        lines += Seq(e.name, e.family, rows, fp, status, f"$t2%.4f",
          if (uses.isEmpty) "-" else uses.mkString(",")).mkString("\t")
        println(f"[expect] ${e.name}%-40s $status%-8s rows=$rows%-7d cold=$t1%.3f warm=$t2%.3f")
      } catch {
        case t: Throwable =>
          println(s"[expect] ${e.name} FAILED ${t.toString.take(300)}")
      }
    }
    Files.write(Paths.get(s"$out/expected.tsv"), lines.result().mkString("", "\n", "\n").getBytes(UTF_8))
    val json = twins.result().map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }
      .mkString("{", ",", "}")
    Files.write(Paths.get(s"$out/oracle_sql.json"), json.getBytes(UTF_8))
    spark.stop()
  }
}
