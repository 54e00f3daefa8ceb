package graft

import graft.operators.{Annotations, TableGenerator, TableMerger, Variants}
import graft.sources.{StructureFormats, TextSources, Validation, Xml}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Command-line entry point — the Spark-native analog of the
  * reference's CLI (proteofav/main.py:15-66): select inputs, merge
  * through the one-call [[TableGenerator]] facade, write the merged
  * table. Option defaults can come from an INI config file
  * ([[Config]], the reference's `Defaults`). Differences are
  * deliberate: output is a DISTRIBUTED
  * csv/tab/json/parquet directory write (the reference streams a single
  * pandas to_csv through the driver — at 100 TB the driver must
  * never hold the table), and inputs are paths to already-fetched
  * files (no network layer in a no-egress engine).
  */
object Cli {

  private val usage =
    """usage: graft.Cli --atoms <pdb-file-or-dir> --output <dir>
      |  [--input-format FMT]          pdb|mmcif atom records (default pdb)
      |  [--dssp <dssp-file-or-dir>]   merge DSSP per-residue records
      |  [--sifts <sifts-xml>]         merge SIFTS cross-references (wide)
      |  [--validation <validation-xml>] merge validation per-residue records
      |  [--annotations <gff-file>]    merge aggregated UniProt GFF features
      |                                (requires --sifts)
      |  [--variants <json-file>]      merge variant records with accession +
      |                                begin columns (requires --sifts)
      |  [--uniprot ACC]               accession stamped onto --annotations
      |                                (required by --annotations)
      |  [--chains A,B]                keep only these chain ids
      |  [--res 1,2,3]                 keep only these residue numbers
      |  [--atom-names CA,N]           keep only these atom names
      |  [--keep-altlocs]              skip max-occupancy altloc collapse
      |  [--keep-partial]              skip partial-residue drop
      |  [--sequence-check MODE]       ignore|warn|raise (default ignore)
      |  [--output-type TYPE]          csv|json|tab|parquet (default csv)
      |  [--config FILE]               INI file supplying option defaults
      |                                (any option name as key; db_root
      |                                prefixes relative paths; CLI args win)
      |  [--master URL]                spark master (default local[*])
      |""".stripMargin

  private[graft] def parseArgs(args: Seq[String]): Map[String, String] = {
    val flags = Set("--keep-altlocs", "--keep-partial")
    def loop(rest: List[String], acc: Map[String, String]): Map[String, String] =
      rest match {
        case Nil => acc
        case f :: t if flags(f) => loop(t, acc + (f.drop(2) -> "true"))
        // a value-taking option must not swallow the NEXT option as
        // its value: `--chains --res 1` is a missing value, not
        // chains="--res" plus a confusing leftover error
        case k :: v :: _ if k.startsWith("--") && v.startsWith("--") =>
          throw new IllegalArgumentException(s"missing value for $k\n$usage")
        case k :: v :: t if k.startsWith("--") => loop(t, acc + (k.drop(2) -> v))
        case k :: Nil if k.startsWith("--") =>
          throw new IllegalArgumentException(s"missing value for $k\n$usage")
        case bad => throw new IllegalArgumentException(
          s"unparseable argument(s): ${bad.mkString(" ")}\n$usage")
      }
    val cli = loop(args.toList, Map.empty)
    // config supplies DEFAULTS (the reference's Defaults object,
    // config.py:42); explicit CLI arguments override them
    val m = cli.get("config")
      .map(p => Config.cliDefaults(Config.load(p)) ++ cli).getOrElse(cli)
    for (req <- Seq("atoms", "output"))
      if (!m.contains(req)) throw new IllegalArgumentException(
        s"--$req is required\n$usage")
    if (m.contains("annotations") && !m.contains("uniprot"))
      throw new IllegalArgumentException(
        "--annotations stamps the --uniprot accession onto the " +
          s"annotation table; add --uniprot\n$usage")
    m
  }

  def main(args: Array[String]): Unit = {
    val opts = parseArgs(args.toIndexedSeq)
    // reuse a live session when embedded (tests, notebooks); only
    // stop what this main itself created
    val preexisting = SparkSession.getDefaultSession.isDefined
    val spark = Session.builder(opts.getOrElse("master", "local[*]"))
      .appName("graft-cli").getOrCreate()
    try {
      val dssp = opts.get("dssp").map(p =>
        StructureFormats.dsspResidues(spark, p)
          .withColumn("RES", col("RES").cast("int")))
      def csv(key: String): Seq[String] =
        opts.get(key).toSeq.flatMap(_.split(",")).filter(_.nonEmpty)
      val atoms = opts.getOrElse("input-format", "pdb") match {
        case "pdb" => StructureFormats.pdbAtoms(spark, opts("atoms"))
        case "mmcif" => StructureFormats.mmcifAtoms(spark, opts("atoms"))
        case other => throw new IllegalArgumentException(
          s"unknown --input-format '$other' (pdb|mmcif)\n$usage")
      }
      // the reference CLI's remaining merge legs (main.py:26-32:
      // --add_annotations/--add_validation/--add_variants), in
      // table_merger's fixed ordering (mergers.py:403): validation
      // attaches to the atom side, annotations/variants attach to
      // SIFTS, then atoms ⋈ SIFTS stitches the halves
      val needResFull =
        opts.contains("sifts") || opts.contains("validation")
      val atomsIn =
        if (needResFull) StructureFormats.addResFull(atoms) else atoms
      var merged = TableGenerator.generate(
        atomsIn,
        dssp = dssp,
        chains = csv("chains"),
        res = csv("res").map(_.trim.toInt),
        atomNames = csv("atom-names"),
        removeAltlocs = !opts.contains("keep-altlocs"),
        dropPartialResidues = !opts.contains("keep-partial"),
        sequenceCheck = opts.getOrElse("sequence-check", "ignore"))
      for (p <- opts.get("validation"))
        merged = TableMerger.mmcifValidationMerger(merged,
          Validation.filterValidation(
            Validation.validationResidues(spark, p)))
      val siftsSide = opts.get("sifts").map { p =>
        var s = Xml.siftsResiduesWide(Xml.siftsResidues(spark, p))
        for (g <- opts.get("annotations"))
          s = TableMerger.siftsAnnotationMerger(s,
            Annotations.annotationAggregation(
              TextSources.gff(spark, g, withLineId = true).select(
                col("line_id"), col("type").as("TYPE"),
                col("start").as("START"), col("end").as("END"),
                col("attr_map").getItem("Note").as("Note"),
                col("attr_map").getItem("ID").as("ID")),
              identifier = opts.get("uniprot")))
        for (v <- opts.get("variants")) {
          var vt = spark.read.json(v)
          if (vt.columns.contains("annotation"))
            vt = Variants.parseUniprotVariants(vt)
          s = TableMerger.siftsVariantsMerger(s, vt)
        }
        s
      }
      if (siftsSide.isEmpty &&
        (opts.contains("annotations") || opts.contains("variants")))
        throw new IllegalArgumentException(
          s"--annotations/--variants merge through SIFTS; add --sifts\n$usage")
      for (s <- siftsSide)
        merged = TableMerger.mmcifSiftsMerger(merged, s)
      merged = TableMerger.pandasSuffixDuplicates(merged)
      val out = opts("output")
      opts.getOrElse("output-type", "csv") match {
        case "csv" => merged.write.mode("overwrite")
          .option("header", "true").csv(out)
        case "tab" => merged.write.mode("overwrite")
          .option("header", "true").option("sep", "\t").csv(out)
        case "json" => merged.write.mode("overwrite").json(out)
        case "parquet" => merged.write.mode("overwrite").parquet(out)
        case other => throw new IllegalArgumentException(
          s"unknown --output-type '$other' (csv|json|tab|parquet)\n$usage")
      }
    } finally if (!preexisting) spark.stop()
  }
}
