package graft
import org.apache.spark.sql.SparkSession
/** Per-round benchmark surface: one JSON line with per-query seconds.
  *
  * Rep policy is ADAPTIVE against the previous committed line: a query
  * whose committed median is sub-second ([[FastSec]]) runs once; the heavy
  * tail and history-less new queries run `Reps` times (JVM/codegen warm
  * after the first) and report the MEDIAN — the host VM's wall clock
  * swings 5-10x under contention (BASELINE.md's variance caveat), so a
  * single sample on a HEAVY query can't distinguish a regression from a
  * noisy neighbor; the median of 3 self-defends, and a 1-rep fast sample
  * that moves >2x escalates into the adjudication pass below. Failures are recorded as negative durations (-1.0) and
  * listed in a `failed` field so a broken query can never masquerade as a
  * fast one.
  *
  * Regression detector: medians are compared against the previous round's
  * committed snapshot (`bench_out.json`, overridable via
  * SPARK_GRAFT_BENCH_PREV). Any query whose median moved more than 2x in
  * either direction AND by more than an absolute floor (0.5 s — sub-second
  * queries double on pure scheduler jitter) is re-measured with `ExtraReps`
  * additional samples and its median recomputed over ALL samples before the
  * snapshot is recorded. Round 3 committed a 16.8x phantom on j6 and a 2.1x
  * on i3 that a quiet re-run contradicted; this pass adjudicates such
  * contention artifacts in-process. Re-adjudicated queries are listed in the
  * `reruns` field so a surviving >2x move is a vetted signal, not a sample.
  */
object Bench {
  private val Reps = 3
  private val ExtraReps = 4
  private val RerunRatio = 2.0
  private val RerunFloorSec = 0.5
  /** Adaptive-rep threshold: a query whose PREVIOUS committed median sits
    * under this gets ONE rep instead of three — the ~200 sub-second
    * registry queries are flat round over round, and paying 2 extra reps
    * each is what pushed the 276-query run past the driver's budget
    * (round 12 shipped rc=124, no independent bench). Self-defense stays:
    * a 1-rep sample that moves >2x vs the committed line escalates into
    * the ExtraReps adjudication below, so a real regression still gets a
    * vetted median — only the steady state got cheaper. Queries with no
    * committed history (new this round) always take the full Reps. */
  private val FastSec = 1.0

  private def sample(spark: SparkSession, sfDir: String, name: String,
      fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
      reps: Int): Seq[Double] =
    (1 to reps).flatMap { _ =>
      val t0 = System.nanoTime()
      // noop sink evaluates EVERY output column — count() would let
      // Catalyst prune computed columns and under-measure the real work
      val ok =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}"); false
        }
      // the measured window ends BEFORE cache teardown — unpersisting a
      // query's intermediates is bench bookkeeping, not query work, and
      // its size-dependent cost would feed noise into the 2x detector
      val elapsed = (System.nanoTime() - t0) / 1e9
      // queries may cache intermediates; drop them so later queries
      // aren't slowed by eviction thrash
      spark.catalog.clearCache()
      if (ok) Some(elapsed) else None
    }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) -1.0 else xs.sorted.apply(xs.size / 2)

  /** Previous round's per-query medians from its bench_out.json line.
    * Jackson ships in Spark's classpath; absence/corruption of the file just
    * disables the detector (first round, or a fresh checkout). */
  private def loadPrev(path: String): Map[String, Double] =
    try {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val root = mapper.readTree(java.nio.file.Files.readString(java.nio.file.Paths.get(path)))
      val qs = root.get("queries")
      if (qs == null) Map.empty
      else {
        val it = qs.properties().iterator()
        val b = Map.newBuilder[String, Double]
        while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.asDouble(-1.0) }
        b.result()
      }
    } catch { case _: Throwable => Map.empty }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val prevPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_PREV", "bench_out.json")
    val prev = loadPrev(prevPath)
    val spark = Graft.session(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")

    val wall0 = System.nanoTime()
    def repsFor(name: String): Int =
      if (prev.get(name).exists(p => p >= 0 && p < FastSec)) 1 else Reps
    val firstPass = SparkEntry.queries.map { case (name, fn) =>
      name -> sample(spark, sfDir, name, fn, repsFor(name))
    }
    val adjudicated = firstPass.map { case (name, samples) =>
      val med = median(samples)
      val suspicious = med >= 0 && prev.get(name).exists { p =>
        p > 0 && (med.max(p) / med.min(p) > RerunRatio) &&
          (med - p).abs > RerunFloorSec
      }
      if (!suspicious) (name, med, false)
      else {
        System.err.println(f"[bench] $name moved >${RerunRatio}%.0fx vs $prevPath " +
          f"(${prev(name)}%.2f -> $med%.2f s); re-measuring with $ExtraReps extra reps")
        val all = samples ++ sample(spark, sfDir, name, SparkEntry.queries(name), ExtraReps)
        (name, median(all), true)
      }
    }

    val qs = adjudicated.map { case (k, v, _) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val failed = adjudicated.collect { case (k, v, _) if v < 0 => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val reruns = adjudicated.collect { case (k, _, true) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    // partially-failing queries: some reps failed but at least one passed —
    // a median over the survivors would otherwise look healthy and the
    // breakage would live only in uncaptured stderr
    val flaky = firstPass.collect {
      case (k, ss) if ss.nonEmpty && ss.size < repsFor(k) => "\"" + k + "\""
    }.mkString("[", ",", "]")
    val total = adjudicated.collect { case (_, v, _) if v >= 0 => v }.sum
    val wallSec = (System.nanoTime() - wall0) / 1e9
    val singleRep = firstPass.count { case (k, _) => repsFor(k) == 1 }
    // Shared scratch artifacts (near-dup evidence, trained ANN indexes)
    // amortize across queries: whichever query touches one first pays the
    // build inside its own sample, and on a warm scratch dir nobody pays
    // it. This field makes that cost a first-class bench fact — "cold"
    // entries carry the build seconds this run absorbed; "warm" entries
    // name the artifacts whose build cost is NOT in any median above.
    val artifacts = graft.core.Tables.artifactReport.toSeq.sortBy(_._1).map {
      // Locale.ROOT: f"" uses the JVM default locale — a comma-decimal
      // locale would emit 0,123 and corrupt the JSON line.
      case (n, Some(sec)) => "\"" + n + "\":{\"status\":\"cold\",\"build_sec\":" +
        String.format(java.util.Locale.ROOT, "%.3f", Double.box(sec)) + "}"
      case (n, None) => "\"" + n + "\":{\"status\":\"warm\"}"
    }.mkString("{", ",", "}")
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failed,"flaky":$flaky,"reruns":$reruns,"reps":$Reps,"single_rep_queries":$singleRep,"wall_sec":${String.format(java.util.Locale.ROOT, "%.1f", Double.box(wallSec))},"artifacts":$artifacts,"sf":"$sfDir"}"""
    println(line)
    // Also persist the full line to a file: the driver captures only the
    // stdout TAIL, which has truncated past rounds' per-query entries —
    // the in-repo artifact keeps the record self-sufficient.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outPath: ${e.getMessage}")
    }
    spark.stop()
  }
}
