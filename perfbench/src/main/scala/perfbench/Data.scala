package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Row, SparkSession}

/** The benchmark's dataset, generated inside its own data directory.
  *
  * It has the shape graft's RBAC derivation reads (Rbac.scala): 15,000
  * users (`customer`), 5,000 documents and 2,000 blocks of 64 floats
  * (`embeddings`), the vectors isotropic on the unit sphere like the
  * corpus graft.ScaleGen scales. It is fixed — made from a constant seed
  * — so every `--seed` runs against the same corpus; the seed only draws
  * the workload streams.
  *
  * It is written to a staging directory and renamed into place, so an
  * interrupted generation never leaves a half-written dataset, and a
  * fingerprint (a hash sum over every row) is stored beside it and
  * checked on every later run.
  */
object Data {
  val Users = 15000
  val Docs = 5000
  val Blocks = 2000
  val Dim = 64
  private val CorpusSeed = 20240611L

  /** Fails when the dataset no longer matches the fingerprint stored at generation. */
  def verify(spark: SparkSession, dir: File): Unit = {
    val (want, got) = (fingerprintOf(dir), fingerprint(spark, dir.getPath))
    require(got == want, s"dataset $dir changed: fingerprint $got, expected $want")
  }

  /** The dataset's directory under the data root. */
  def dir(root: String): File = new File(root, "base").getAbsoluteFile

  /** Generates the dataset under `root`; returns the time it took in seconds. */
  def generate(spark: SparkSession, root: String): Double = {
    val t0 = System.nanoTime()
    val staging = new File(root, ".base.staging")
    Util.rmTree(staging)
    staging.mkdirs()
    writeBase(spark, staging.getPath)
    Files.write(Paths.get(staging.getPath, "FINGERPRINT"),
      fingerprint(spark, staging.getPath).getBytes("UTF-8"))
    Files.move(staging.toPath, dir(root).toPath, StandardCopyOption.ATOMIC_MOVE)
    (System.nanoTime() - t0) / 1e9
  }

  private def writeBase(spark: SparkSession, out: String): Unit = {
    val rnd = new java.util.Random(CorpusSeed)
    val vecs = (0 until Blocks).map { i =>
      val v = Array.fill(Dim)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / n).toFloat).toSeq, rnd.nextInt(10))
    }
    val embSchema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("label", IntegerType, nullable = false)))
    spark.createDataFrame(spark.sparkContext.parallelize(vecs, 1), embSchema)
      .write.parquet(s"$out/embeddings.parquet")
    spark.range(Users).select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"))
      .coalesce(1).write.parquet(s"$out/customer.parquet")
    val words = Array("scan", "join", "vector", "role", "block", "query", "index", "merge")
    spark.range(Docs).select(col("id").as("doc_id"),
      concat_ws(" ", (0 until 6).map(j =>
        element_at(typedLit(words), (pmod(xxhash64(col("id"), lit(j)), lit(words.length)) + 1).cast("int"))): _*)
        .as("text"))
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("perfbench"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.parquet(s"$out/documents.parquet")
  }

  def fingerprintOf(dir: File): String =
    new String(Files.readAllBytes(Paths.get(dir.getPath, "FINGERPRINT")), "UTF-8").trim

  /** Order-independent content hash of the three tables graft reads. */
  def fingerprint(spark: SparkSession, dir: String): String =
    Seq("customer", "documents", "embeddings").map { t =>
      val df = spark.read.parquet(s"$dir/$t.parquet")
      val h = df.agg(count(lit(1)), sum(xxhash64(df.columns.map(col): _*).cast("decimal(38,0)")))
        .head()
      s"$t:${h.getLong(0)}:${h.get(1)}"
    }.mkString(";")
}
