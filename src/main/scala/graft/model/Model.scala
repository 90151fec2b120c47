package graft.model

import org.apache.spark.sql.{Dataset, Encoder, Encoders, SparkSession}
import graft.operators.Cube
import graft.sources.DriverParquet

/** Typed surface of the cube data model (SURVEY.md §1.2: `Dataset[T]`
  * case classes for the operator library, `DataFrame` for the dynamic
  * relational side). Encoders are product encoders — fully codegen'd,
  * no Kryo/Java serialization in the data path.
  */
final case class SampleRow(obs_id: String, subint: Int, pol: Int,
                           chan: Int, bin: Int, value: Double)

final case class WeightRow(obs_id: String, subint: Int, chan: Int,
                           weight: Double)

final case class ObsMeta(obs_id: String, source: String, raj: String,
                         decj: String, cfreq: Double, bw: Double,
                         nchan: Int, nsubint: Int, nbin: Int, npol: Int,
                         start_mjd: Double, tobs: Double)

final case class ProfileBin(obs_id: String, pol: Int, bin: Int,
                            value: Double, n_cells: Long)

final case class FluxRow(obs_id: String, subint: Int, chan: Int,
                         freq: Double, mean_flux: Double, peak_flux: Double,
                         weight: Double)

object Model {
  implicit val sampleEnc: Encoder[SampleRow] = Encoders.product[SampleRow]
  implicit val weightEnc: Encoder[WeightRow] = Encoders.product[WeightRow]
  implicit val metaEnc: Encoder[ObsMeta] = Encoders.product[ObsMeta]
  implicit val profileEnc: Encoder[ProfileBin] = Encoders.product[ProfileBin]
  implicit val fluxEnc: Encoder[FluxRow] = Encoders.product[FluxRow]

  /** Typed view of a cube — schema errors surface at analysis time
    * instead of deep inside a pipeline. */
  def samples(c: Cube): Dataset[SampleRow] = c.samples.as[SampleRow]
  def weights(c: Cube): Dataset[WeightRow] = c.weights.as[WeightRow]

  /** Typed cube loader from partitioned Parquet (the layout
    * `Sinks.cubeParquet` writes). */
  def loadCube(spark: SparkSession, samplesPath: String,
               weightsPath: String): Cube =
    Cube(
      DriverParquet.read(spark).load(samplesPath).as[SampleRow].toDF(),
      DriverParquet.read(spark).load(weightsPath).as[WeightRow].toDF())
}
