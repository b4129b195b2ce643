package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.plant.{PlantData, PlantMetadata}

/** Seeded synthetic wind plant built from `spark.range` and column
  * expressions, so generation scales with the cluster instead of the driver.
  *
  * Planted truths, each recoverable by one analysis:
  *  - the meter reads exactly (1 - ElecLoss) of the summed turbine energy;
  *  - turbine `i` has the static yaw offset `yawOffset(i)`: its vane reading
  *    is noise around zero while power peaks at vane = offset;
  *  - turbines that are not in the westmost column lose `WakeDeficit` of
  *    their power whenever the plant wind direction is in `WakeSector`.
  *
  * Every noise term is a hash of (seed, salt, row keys), so a seed fixes the
  * tables bit for bit regardless of partitioning.
  */
object PlantGen {

  final case class Spec(turbines: Int, days: Int, reanalysisYears: Int,
                        products: Seq[String], seed: Long) {
    def scadaRows: Long = turbines.toLong * days * StepsPerDay
    def reanalysisRows: Long = products.size.toLong * reanalysisYears * 365 * 24
  }

  val RatedKw = 2000.0
  val FreqSeconds = 600L
  val StepsPerDay: Int = (24 * 3600 / FreqSeconds).toInt
  val ElecLoss = 0.02
  val WakeDeficit = 0.15
  val WakeSector: (Double, Double) = (240.0, 300.0)
  val Columns = 5
  /** 2019-01-01T00:00:00Z: the period of record starts here. */
  val T0: Long = 1546300800L

  private val offsets = Array(3.0, -2.0, 0.0, 5.0, -4.0, 1.0, 2.0, -3.0)
  def yawOffset(turbine: Int): Double = offsets(turbine % offsets.length)
  def assetId(turbine: Int): String = f"T$turbine%02d"

  /** Uniform [0, 1) from a 53-bit slice of xxhash64(seed, salt, keys). */
  private def unif(seed: Long, salt: Int, keys: Column*): Column =
    xxhash64((lit(seed) +: lit(salt) +: keys): _*)
      .bitwiseAND(lit((1L << 53) - 1)).cast("double") / lit((1L << 53).toDouble)

  private def sym(seed: Long, salt: Int, keys: Column*): Column =
    unif(seed, salt, keys: _*) * 2.0 - 1.0

  /** Plant wind at fractional hour `h` since T0: diurnal + synoptic cycles
    * with a seed-dependent phase. Shared by SCADA and reanalysis, so the
    * long-term correlation the AEP regression relies on is real.
    */
  private def windSpeed(h: Column, phase: Double): Column =
    lit(8.0) + sin(h / 24.0 * 2 * math.Pi + phase) * 3.0 +
      sin(h / 120.0 * 2 * math.Pi + 2 * phase) * 2.0

  private def windDir(h: Column, phase: Double): Column =
    pmod(lit(270.0) + sin(h / 48.0 * 2 * math.Pi + phase) * 60.0, lit(360.0))

  private def powerCurve(ws: Column): Column =
    when(ws < 3.0, 0.0)
      .when(ws < 12.0, pow((ws - 3.0) / 9.0, 3.0) * (RatedKw * 0.9) + 50.0)
      .when(ws < 25.0, RatedKw)
      .otherwise(0.0)

  private def phase(seed: Long): Double = (java.lang.Math.floorMod(seed, 997L)) * 0.0063

  /** Tables as lazy DataFrames; `scada` also carries the planted columns
    * `p_nowake` and `in_sector` used only to derive the truths. The meter is
    * derived from the written SCADA in [[write]].
    */
  final case class Tables(scada: DataFrame, curtail: DataFrame,
                          asset: DataFrame, reanalysis: Map[String, DataFrame])

  def tables(spark: SparkSession, spec: Spec): Tables = {
    val seed = spec.seed
    val ph = phase(seed)
    val nT = spec.turbines
    val steps = spec.days.toLong * StepsPerDay
    val parts = 4
    val yawArr = typedLit((0 until nT).map(yawOffset))
    val base = spark.range(0L, steps * nT, 1L, parts)
      .select((col("id") / nT).cast("long").as("i"), (col("id") % nT).cast("int").as("t"))
      .withColumn("h", col("i") * (FreqSeconds / 3600.0))
    val ws = greatest(lit(0.1), windSpeed(col("h"), ph) +
      sym(seed, 1, col("i")) + sym(seed, 3, col("i"), col("t")) * 0.2)
    val plantWd = windDir(col("h"), ph) + sym(seed, 2, col("i")) * 10.0
    val vane = sym(seed, 4, col("i"), col("t")) * 15.0
    val yaw = element_at(yawArr, col("t") + 1)
    val yawMod = pow(cos(radians(vane - yaw)), 4.0)
    val sector = pmod(plantWd, lit(360.0)).between(WakeSector._1, WakeSector._2)
    val scada = base
      .withColumn("ws", ws)
      .withColumn("wd_plant", pmod(plantWd, lit(360.0)))
      .withColumn("vane", vane)
      .withColumn("p_nowake", powerCurve(col("ws")) * yawMod)
      .withColumn("in_sector", sector && (col("t") % Columns =!= 0))
      .select(
        timestamp_seconds(lit(T0) + col("i") * FreqSeconds).as("time"),
        format_string("T%02d", col("t")).as("asset_id"),
        (col("p_nowake") * when(col("in_sector"), 1.0 - WakeDeficit).otherwise(1.0)).as("WTUR_W"),
        col("ws").as("WMET_HorWdSpd"),
        pmod(col("wd_plant") + sym(seed, 5, col("i"), col("t")) * 2.0, lit(360.0)).as("WMET_HorWdDir"),
        col("vane").as("WMET_HorWdDirRel"),
        lit(0.0).as("WROT_BlPthAngVal"),
        lit(283.15).as("WMET_EnvTmp"),
        col("p_nowake"), col("in_sector"))

    val curtail = spark.range(0L, steps, 1L, parts)
      .select(timestamp_seconds(lit(T0) + col("id") * FreqSeconds).as("time"),
        lit(0.0).as("IAVL_DnWh"), lit(0.0).as("IAVL_ExtPwrDnWh"))
    val asset = spark.range(0L, nT.toLong, 1L, 1)
      .select(format_string("T%02d", col("id").cast("int")).as("asset_id"),
        (lit(47.0) + (col("id") / Columns).cast("int") * 0.005).as("latitude"),
        (lit(-1.0) + (col("id") % Columns) * 0.007).as("longitude"),
        lit(RatedKw).as("rated_power"), lit(80.0).as("hub_height"),
        lit(92.0).as("rotor_diameter"), lit(411.0).as("elevation"),
        lit("turbine").as("type"))

    // hourly reanalysis ending with the period of record
    val reanHours = spec.reanalysisYears.toLong * 365 * 24
    val porHours = spec.days.toLong * 24
    val reanalysis = spec.products.zipWithIndex.map { case (p, k) =>
      val h = col("id") - lit(reanHours - porHours)
      val rws = greatest(lit(0.1), windSpeed(h.cast("double"), ph) +
        sym(seed, 10 + k, col("id")) * 0.8)
      val rwd = windDir(h.cast("double"), ph)
      p -> spark.range(0L, reanHours, 1L, parts)
        .select(timestamp_seconds(lit(T0) + h * 3600L).as("time"),
          rws.as("WMETR_HorWdSpd"),
          (-rws * sin(radians(rwd))).as("WMETR_HorWdSpdU"),
          (-rws * cos(radians(rwd))).as("WMETR_HorWdSpdV"),
          (lit(288.15) + sin(h / 24.0 * 2 * math.Pi) * 5.0).as("WMETR_EnvTmp"),
          (lit(1.225) + sym(seed, 20 + k, col("id")) * 0.01).as("WMETR_AirDen"),
          lit(101325.0).as("WMETR_EnvPres"))
    }.toMap
    Tables(scada, curtail, asset, reanalysis)
  }

  /** Write every table under `dir` as parquet. */
  def write(spark: SparkSession, spec: Spec, dir: String): Unit = {
    val t = tables(spark, spec)
    t.scada.write.mode("overwrite").parquet(s"$dir/scada")
    // meter: exactly (1 - loss) of the plant's summed 10-min energy
    spark.read.parquet(s"$dir/scada").groupBy("time")
      .agg((sum(col("WTUR_W")) * (FreqSeconds / 3600.0) * (1 - ElecLoss)).as("MMTR_SupWh"))
      .write.mode("overwrite").parquet(s"$dir/meter")
    t.curtail.write.mode("overwrite").parquet(s"$dir/curtail")
    t.asset.write.mode("overwrite").parquet(s"$dir/asset")
    t.reanalysis.foreach { case (p, df) =>
      df.write.mode("overwrite").parquet(s"$dir/reanalysis_$p") }
  }

  val AnalysisTypes: Seq[String] = Seq("MonteCarloAEP", "TurbineLongTermGrossEnergy",
    "ElectricalLosses", "WakeLosses", "StaticYawMisalignment")

  /** `PlantData.load` over the written tables, validation included. */
  def load(spark: SparkSession, spec: Spec, dir: String): PlantData =
    PlantData.load(
      scada = Some(spark.read.parquet(s"$dir/scada").drop("p_nowake", "in_sector")),
      meter = Some(spark.read.parquet(s"$dir/meter")),
      curtail = Some(spark.read.parquet(s"$dir/curtail")),
      asset = Some(spark.read.parquet(s"$dir/asset")),
      reanalysis = spec.products.map(p => p -> spark.read.parquet(s"$dir/reanalysis_$p")).toMap,
      metadata = PlantMetadata(scadaFreqSeconds = FreqSeconds,
        meterFreqSeconds = FreqSeconds, curtailFreqSeconds = FreqSeconds,
        reanalysisFreqSeconds = 3600L, capacityKw = RatedKw * spec.turbines),
      analysisTypes = AnalysisTypes)

  /** The planted POR wake loss in closed form: the deficit's share of the
    * plant's wake-free energy, from the planted columns of the written SCADA.
    */
  def plantedWakeLoss(spark: SparkSession, dir: String): Double = {
    val r = spark.read.parquet(s"$dir/scada")
      .agg(sum(when(col("in_sector"), col("p_nowake") * WakeDeficit).otherwise(0.0)),
        sum(col("p_nowake"))).head()
    r.getDouble(0) / r.getDouble(1)
  }
}
