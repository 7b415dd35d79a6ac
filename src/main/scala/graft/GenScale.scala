package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic scale-up data generator (round-12 verdict #6): emits an
  * sf-N dataset with the SAME schemas and marginal distributions as the
  * driver-generated `/root/testdata/sf0.1` tables (profiled there:
  * value domains, key ranges, lineitems/order ≈ Poisson(4), the 30-word
  * document vocabulary, 64-dim label-clustered embeddings) at `factor`×
  * the row counts — so the bench's heavy queries can be timed at 10×
  * volume and their empirical scaling exponents recorded in
  * BENCH_NOTES. Every value is a pure hash function of (table, row id),
  * so the dataset is reproducible bit-for-bit on any run/partitioning —
  * no RNG state, the [[graft.operators.Corpus.stratifiedSample]]
  * determinism idiom applied to generation.
  *
  * Usage: GenScale <outDir> [factor=10] [tables-csv]. Writes one
  * parquet per table under outDir; region/nation (fixed dims) are
  * copied from sf0.1. An optional third arg restricts generation to a
  * comma-separated table subset (e.g. `embeddings` for the round-14
  * factor-100 embedding-family capture — the other tables at 100× are
  * pointless cost for a single-family sweep). Never touches
  * /root/testdata.
  */
object GenScale {

  /** Engine-portable uniform in (0, 1): first 8 md5 hex chars of the
    * seed string → (h + 0.5) / 2^32. */
  private def u(seed: Column): Column =
    (conv(substring(md5(seed), 1, 8), 16, 10).cast("long").cast("double") +
      lit(0.5)) / lit(4294967296.0)

  private def seed(tag: String, cols: Column*): Column =
    concat_ws(":", (lit(tag) +: cols): _*)

  private def pick(uCol: Column, vals: Seq[String]): Column =
    element_at(array(vals.map(lit): _*),
      (uCol * vals.length).cast("int") + 1)

  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("target/sf1")
    val factor = args.drop(1).headOption.map(_.toInt).getOrElse(10)
    val src = sys.env.getOrElse("SPARK_GRAFT_GEN_SRC", "/root/testdata/sf0.1")
    val spark = Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val only: Option[Set[String]] =
      args.drop(2).headOption.map(_.split(",").map(_.trim).toSet)
    // Each table lands as a single parquet FILE named <table>.parquet —
    // the driver's testdata layout. The streaming sources list the SF
    // directory with pathGlobFilter=<table>*.parquet, which matches leaf
    // file names only; the default directory-of-part-files layout made
    // every events-sourced stream see zero files at sf1 (round 15).
    // Values are pure hash functions of the row id, so the single-file
    // rewrite changes bytes-on-disk layout, never data.
    def write(name: String, df: DataFrame): Unit =
      if (only.forall(_.contains(name))) {
        val tmp = s"$outDir/.${name}_stage"
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        val tmpDir = new java.io.File(tmp)
        val part = Option(tmpDir.listFiles()).getOrElse(Array.empty)
          .find(f => f.getName.startsWith("part-") &&
            f.getName.endsWith(".parquet"))
          .getOrElse(sys.error(s"no part file written for $name"))
        val dst = new java.io.File(s"$outDir/$name.parquet")
        graft.operators.IndexStore.deleteRec(dst)
        java.nio.file.Files.move(part.toPath, dst.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        graft.operators.IndexStore.deleteRec(tmpDir)
        System.err.println(s"[gen] $name done")
      }
    def ids(n: Long, parts: Int = 32): DataFrame =
      spark.range(0, n, 1, parts).toDF("id")

    // fixed dims: copy verbatim
    Seq("region", "nation").foreach(tn =>
      write(tn, spark.read.parquet(s"$src/$tn.parquet")))

    val nCust = 15000L * factor
    val nSupp = 1000L * factor
    val nPart = 20000L * factor
    val nOrd = 150000L * factor
    val nLine = 600000L * factor
    val nEv = 100000L * factor
    val nDoc = 5000L * factor
    val nEmb = 2000L * factor

    write("customer", ids(nCust).select(
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      pmod(hash(col("id"), lit("cn")), lit(25)).cast("int").as("c_nationkey"),
      round(u(seed("ca", col("id"))) * 10999.65 - 999.85, 2).as("c_acctbal"),
      pick(u(seed("cs", col("id"))), Seq("AUTOMOBILE", "BUILDING",
        "FURNITURE", "HOUSEHOLD", "MACHINERY")).as("c_mktsegment")))

    write("supplier", ids(nSupp).select(
      col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      pmod(hash(col("id"), lit("sn")), lit(25)).cast("int").as("s_nationkey"),
      round(u(seed("sa", col("id"))) * 10999.65 - 999.85, 2).as("s_acctbal")))

    val adjectives = Seq("large", "hot", "blue", "red", "small", "cold",
      "green", "dark")
    val nouns = Seq("ring", "bolt", "gear", "cap", "valve", "pin",
      "disk", "rod")
    write("part", ids(nPart).select(
      col("id").as("p_partkey"),
      concat(pick(u(seed("pa", col("id"))), adjectives), lit(" "),
        pick(u(seed("pn", col("id"))), nouns)).as("p_name"),
      concat(lit("Brand#"),
        pmod(hash(col("id"), lit("pb")), lit(25))).as("p_brand"),
      pick(u(seed("pt", col("id"))), Seq("ECONOMY", "LARGE", "MEDIUM",
        "PROMO", "SMALL", "STANDARD")).as("p_type"),
      (pmod(hash(col("id"), lit("ps")), lit(50)) + 1).cast("int").as("p_size"),
      round(lit(900.0) + u(seed("pp", col("id"))) * 99.9, 2)
        .as("p_retailprice")))

    write("orders", ids(nOrd).select(
      col("id").as("o_orderkey"),
      pmod(hash(col("id"), lit("oc")), lit(nCust)).as("o_custkey"),
      pick(u(seed("os", col("id"))), Seq("F", "O", "P")).as("o_orderstatus"),
      round(lit(1000.0) + u(seed("op", col("id"))) * 499000.0, 2)
        .as("o_totalprice"),
      timestamp_seconds(lit(788918400L) + // 1995-01-01 UTC
        (u(seed("od", col("id"))) * 2404).cast("long") * 86400L)
        .as("o_orderdate"),
      pick(u(seed("oo", col("id"))), Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
        "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority")))

    write("lineitem", ids(nLine).select(
      pmod(hash(col("id"), lit("lo")), lit(nOrd)).as("l_orderkey"),
      pmod(hash(col("id"), lit("lp")), lit(nPart)).as("l_partkey"),
      pmod(hash(col("id"), lit("ls")), lit(nSupp)).as("l_suppkey"),
      (pmod(hash(col("id"), lit("ln")), lit(7)) + 1).cast("int")
        .as("l_linenumber"),
      (floor(u(seed("lq", col("id"))) * 50) + 1).cast("double")
        .as("l_quantity"),
      round(lit(900.0) + u(seed("le", col("id"))) * 104099.0, 2)
        .as("l_extendedprice"),
      round(u(seed("ld", col("id"))) * 0.1, 2).as("l_discount"),
      round(u(seed("lt", col("id"))) * 0.08, 2).as("l_tax"),
      pick(u(seed("lr", col("id"))), Seq("A", "N", "R")).as("l_returnflag"),
      pick(u(seed("ll", col("id"))), Seq("F", "O")).as("l_linestatus"),
      timestamp_seconds(lit(789004800L) + // 1995-01-02 UTC
        (u(seed("lsd", col("id"))) * 2498).cast("long") * 86400L)
        .as("l_shipdate")))

    // events: 30 days of 2024-01, exponential-ish value (mean ≈ 50),
    // microsecond-grain timestamps, 10× the user population
    write("events", ids(nEv).select(
      col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) + // 2024-01-01 UTC in µs
        (u(seed("et", col("id"))) * 30L * 86400L * 1000000L).cast("long"))
        .as("ts"),
      pmod(hash(col("id"), lit("eu")), lit(1500L * factor)).as("user_id"),
      pick(u(seed("ey", col("id"))), Seq("click", "error", "purchase",
        "signup", "view")).as("event_type"),
      round(least(-log(u(seed("ev", col("id")))) * lit(50.0), lit(600.0)), 2)
        .as("value"),
      format_string("{\"k\": %d}",
        pmod(hash(col("id"), lit("ek")), lit(100))).as("props")))

    // documents: the 30-word query-engine vocabulary, 10..100 uniform
    // words, ~0.3% planted exact-dup pairs (adjacent ids share a text
    // seed), rare "dup" token like the profile
    val vocab = Seq("spark", "window", "merge", "table", "column", "vector",
      "stream", "value", "data", "small", "join", "filter", "big", "group",
      "hash", "customer", "sort", "order", "slow", "line", "part", "fast",
      "row", "the", "agg", "key", "query", "a", "scan", "batch")
    val vocabArr = array(vocab.map(lit): _*)
    val docSeed = when(pmod(col("id"), lit(625)) === 624, col("id") - 1)
      .otherwise(col("id"))
    write("documents", ids(nDoc)
      .withColumn("__s", docSeed)
      .withColumn("__n",
        (floor(u(seed("dn", col("__s"))) * 91) + 10).cast("int"))
      .withColumn("text", array_join(
        transform(sequence(lit(1), col("__n")), j =>
          when(u(seed("dw", col("__s"), j)) < 0.0008, lit("dup"))
            .otherwise(element_at(vocabArr,
              (u(seed("dv", col("__s"), j)) * 30).cast("int") + 1))), " "))
      .select(
        col("id").as("doc_id"),
        col("text"),
        when(u(seed("dl", col("id"))) < 0.41, "en")
          .when(u(seed("dl", col("id"))) < 0.56, "zh")
          .when(u(seed("dl", col("id"))) < 0.71, "fr")
          .when(u(seed("dl", col("id"))) < 0.86, "es")
          .otherwise("de").as("lang"),
        concat(lit("src"),
          pmod(hash(col("id"), lit("ds")), lit(20))).as("source"),
        length(col("text")).cast("long").as("n_chars")))

    // embeddings: 64-dim, 10 label clusters (centroid per label + noise)
    write("embeddings", ids(nEmb)
      .withColumn("label",
        pmod(hash(col("id"), lit("el")), lit(10)).cast("int"))
      .select(
        col("id").as("vec_id"),
        transform(sequence(lit(0), lit(63)), d =>
          ((u(seed("ec", col("label"), d)) - 0.5) * 0.4 +
            (u(seed("en", col("id"), d)) - 0.5) * 0.35).cast("float"))
          .as("embedding"),
        col("label")))

    spark.stop()
    println(s"""{"gen":"$outDir","factor":$factor}""")
  }
}
