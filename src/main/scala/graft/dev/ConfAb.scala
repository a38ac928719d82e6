package graft.dev

import graft.{SparkEntry, Tables}

/** Dev tool: IN-SESSION conf A/B. Cross-JVM TimeQuery A/Bs measured
  * ±20-30% session noise on this box (r12 baseline work), which
  * drowns sub-second conf effects. Here both arms run interleaved in
  * ONE session (A warm, B warm, then A,B,A,B timed; min per arm), so
  * machine drift hits both arms equally. Only runtime-settable SQL
  * confs can be A/B'd this way (adaptive.*, join.*, shuffle
  * partitions) — session-construction confs still need TimeQuery's
  * SPARK_GRAFT_EXTRA_CONF.
  *
  * Usage: runMain graft.dev.ConfAb <sfDir> <k=v;k=v> <query...>
  */
object ConfAb {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val bConf: Seq[(String, String)] = args(1).split(";").toSeq.map { kv =>
      val Array(k, v) = kv.split("=", 2); (k, v)
    }
    val names = args.drop(2).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.SessionDefaults.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Tables.names.foreach { n =>
      try Tables.load(spark, dir, n).count()
      catch { case _: org.apache.spark.sql.AnalysisException => () }
    }
    // keys prefixed "sysprop:" toggle JVM system properties instead of
    // session confs — the hook code-level A/Bs read (arm A = absent)
    val saved = bConf.map { case (k, _) => k -> spark.conf.getOption(k) }
    def setB(): Unit = bConf.foreach {
      case (k, v) if k.startsWith("sysprop:") =>
        sys.props(k.stripPrefix("sysprop:")) = v
      case (k, v) => spark.conf.set(k, v)
    }
    def setA(): Unit = saved.foreach {
      case (k, _) if k.startsWith("sysprop:") =>
        sys.props.remove(k.stripPrefix("sysprop:"))
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
    def time(n: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(n)(spark, dir).write
        .format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    names.foreach { n =>
      setA(); time(n); setB(); time(n) // warm both arms
      val (as, bs) = (Array.newBuilder[Double], Array.newBuilder[Double])
      (1 to 2).foreach { _ =>
        setA(); as += time(n)
        setB(); bs += time(n)
      }
      val (a, b) = (as.result().min, bs.result().min)
      println(f"ABTIMED $n%-32s A $a%7.3f  B $b%7.3f  (${(a - b) / a * 100}%+5.1f%%)")
    }
    setA()
    spark.stop()
  }
}
