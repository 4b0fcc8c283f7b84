package graft.cli

import org.apache.spark.sql.SparkSession

import graft.io.{CppJson, Envelope}
import graft.ops.VectorStore

/** CLI frontend mirroring the reference's command surface and output
  * format (`/root/reference/src/main.cpp:29-35,51-164`) so behavioral
  * diffs against the compiled reference are scriptable:
  *
  *   init, add, get, update, delete, rebuild, search
  *
  * Byte-parity notes (each verified against the compiled binary):
  *  - float printing follows C++ default ostream formatting (6
  *    significant digits, trailing zeros stripped; the plain-integer form
  *    only below 1e6 — `15000000.0f` prints `1.5e+07`)
  *  - numeric arguments parse with `std::stoi`/`std::stoll` semantics:
  *    longest valid prefix, errors report just "stoi"/"stoll"
  *  - vector components parse with `std::stof` semantics: longest prefix,
  *    hex floats and inf/nan accepted, ERANGE (overflow/subnormal) →
  *    "Invalid vector format." (main.cpp:14-17)
  *  - metadata parses with `json::parse` up front (main.cpp:70,153) via
  *    [[CppJson]], so malformed JSON reports nlohmann's exact text
  *  - the empty-index warning only fires when the db file exists: the
  *    reference's `load()` returns before `rebuildIndex()` on a missing
  *    file (vectordb.cpp:183-186)
  *  - `rebuild` warns twice on an existing empty db — once inside load,
  *    once for the explicit rebuild (main.cpp:120-123)
  */
object Cli {

  /** C++ `operator<<(float)` default formatting — printf %g with
    * precision 6: round the EXACT binary value to 6 significant decimal
    * digits half-even, then fixed form for rounded exponent in [-4, 6),
    * scientific outside, trailing zeros stripped. Implemented over exact
    * BigDecimal arithmetic because Java's %g rounds HALF_UP and diverges
    * from glibc on decimal ties (e.g. float values ending in .5 with
    * exactly seven significant digits). Verified against the compiled
    * reference: 15000000.0f → "1.5e+07", 1000000.0f → "1e+06",
    * 999999.0f → "999999". */
  private[cli] def cppNum(d: Double): String = {
    if (d.isNaN) return "nan"
    if (d.isInfinite) return if (d > 0) "inf" else "-inf"
    if (d == 0.0) return if (1.0 / d < 0) "-0" else "0"
    val neg = d < 0
    val bd = new java.math.BigDecimal(math.abs(d))
      .round(new java.math.MathContext(6, java.math.RoundingMode.HALF_EVEN))
    val exp10 = bd.precision - 1 - bd.scale // exponent of the rounded value
    val digits = bd.unscaledValue.toString.reverse.dropWhile(_ == '0').reverse
    val out =
      if (exp10 < -4 || exp10 >= 6) {
        val mant = if (digits.length == 1) digits else digits.take(1) + "." + digits.drop(1)
        f"${mant}e${if (exp10 < 0) "-" else "+"}${math.abs(exp10)}%02d"
      } else {
        val n = exp10 + 1 // digit count before the decimal point
        if (n >= digits.length) digits + ("0" * (n - digits.length))
        else if (n > 0) digits.take(n) + "." + digits.drop(n)
        else "0." + ("0" * -n) + digits
      }
    if (neg) "-" + out else out
  }

  /** `std::stoi`/`std::stoll`: skip whitespace, optional sign, decimal
    * digits; no conversion → invalid_argument whose what() is the bare
    * function name; out of range → out_of_range with the same what(). */
  private val intPrefixRe = """^\s*[+-]?\d+""".r

  private[cli] def cppStoi(s: String): Int = {
    val m = intPrefixRe.findFirstIn(s).getOrElse(throw new IllegalArgumentException("stoi"))
    val b = BigInt(m.trim)
    if (!b.isValidInt) throw new IllegalArgumentException("stoi")
    b.toInt
  }

  private[cli] def cppStoll(s: String): Long = {
    val m = intPrefixRe.findFirstIn(s).getOrElse(throw new IllegalArgumentException("stoll"))
    val b = BigInt(m.trim)
    if (!b.isValidLong) throw new IllegalArgumentException("stoll")
    b.toLong
  }

  /** `std::stof`: longest valid strtof prefix — decimal/hex floats,
    * inf/infinity/nan, leading whitespace. Throws (→ "Invalid vector
    * format.") on no conversion or ERANGE: overflow to infinity, or a
    * nonzero value rounding to zero/subnormal (glibc sets ERANGE for
    * subnormal results, so `1e-39` is rejected by the reference). */
  private val floatPrefixRe =
    ("""^\s*[+-]?(?:""" +
      """0[xX](?:[0-9a-fA-F]+(?:\.[0-9a-fA-F]*)?|\.[0-9a-fA-F]+)(?:[pP][+-]?[0-9]+)?""" +
      """|(?:[0-9]+(?:\.[0-9]*)?|\.[0-9]+)(?:[eE][+-]?[0-9]+)?""" +
      """|[iI][nN][fF](?:[iI][nN][iI][tT][yY])?""" +
      """|[nN][aA][nN](?:\([0-9a-zA-Z_]*\))?""" +
      """)""").r

  private[cli] def cppStof(s: String): Float = {
    def invalid() = throw new IllegalArgumentException(
      "Invalid vector format. Must be comma-separated floats.")
    val tok = floatPrefixRe.findFirstIn(s).getOrElse(invalid()).trim
    val neg = tok.startsWith("-")
    val mag = tok.stripPrefix("-").stripPrefix("+")
    val lower = mag.toLowerCase
    if (lower.startsWith("inf")) return if (neg) Float.NegativeInfinity else Float.PositiveInfinity
    if (lower.startsWith("nan")) return Float.NaN
    val isHex = lower.startsWith("0x")
    val javaTok = if (isHex && !lower.contains('p')) mag + "p0" else mag
    val f0 = java.lang.Float.parseFloat(javaTok)
    // mantissa digits end at the exponent marker — which is 'p' for hex
    // tokens ('e' IS a hex digit there) and 'e' for decimal ones
    val mantissa =
      if (isHex) lower.stripPrefix("0x").takeWhile(_ != 'p')
      else lower.takeWhile(_ != 'e')
    val mathNonzero = mantissa.exists(c => c != '0' && c != '.')
    if (f0.isInfinite) invalid() // overflow
    if (mathNonzero && (f0 == 0.0f || math.abs(f0) < java.lang.Float.MIN_NORMAL)) invalid() // ERANGE underflow
    if (neg) -f0 else f0
  }

  /** C++ `std::getline(ss, item, ',')` tokenization (main.cpp:8-13): a
    * trailing comma yields no empty final item, interior empty items are
    * kept (and fail stof). The dimension check always runs — on a fresh
    * store the expected dimension is 0 (main.cpp:19-21). */
  private[cli] def parseVector(s: String, expectedDim: Int): Array[Float] = {
    val parts0 = s.split(",", -1)
    val parts = if (parts0.last.isEmpty) parts0.dropRight(1) else parts0
    val vec = parts.map(cppStof)
    if (vec.length != expectedDim)
      throw new IllegalArgumentException(
        s"Vector dimension mismatch. Expected $expectedDim got ${vec.length}")
    vec
  }

  /** The reference rebuilds its index inside `load()` only when the file
    * exists, and warns on stderr when the db is empty (vectordb.cpp:106-108,
    * 183-186) — observable CLI behavior, mirrored for byte parity. */
  private def warnIfLoadedEmpty(db: VectorStore): VectorStore = {
    if (db.fromFile && db.toDF.isEmpty)
      System.err.println("Warning: Rebuilding index with 0 vectors.")
    db
  }

  private def warnIfEmpty(db: VectorStore): Unit =
    if (db.toDF.isEmpty)
      System.err.println("Warning: Rebuilding index with 0 vectors.")

  private def usage(prog: String): Unit = {
    System.err.println(s"Usage: $prog <db_path> <command> [args]")
    System.err.println("Commands:")
    System.err.println("  init <dimension>                  - Initialize a new vector database.")
    System.err.println("  add <vector> <metadata_json>      - Add a new vector. Vector is '1.0,2.0,3.0'. Metadata is '{\"key\": \"val\"}'.")
    System.err.println("  get <id>                          - Get a vector and its metadata by ID.")
    System.err.println("  update <id> <vector> <metadata>   - Update a vector (requires rebuild).")
    System.err.println("  delete <id>                       - Delete a vector (requires rebuild).")
    System.err.println("  rebuild                         - Rebuild the HNSW index (REQUIRED after add/update/delete).")
    System.err.println("  search <k> <query_vector>         - Search for k-nearest neighbors.")
    System.err.println()
  }

  /** Runs one command against `path`; returns the process exit code.
    * Factored from `main` so tests can drive it with a shared session.
    * The on-disk file is `<path>.json` — the reference appends the
    * suffix to whatever path the user passes (vectordb.cpp:10), so the
    * CLI mirrors that; messages echo the user's raw path. */
  def run(spark: SparkSession, args: Array[String], prog: String = "graft"): Int = {
    if (args.length < 2) { usage(prog); return 1 }
    val path = args(0)
    val file = path + ".json"
    val command = args(1)
    try {
      command match {
        case "init" =>
          if (args.length != 3) { System.err.println(s"Usage: $prog $path init <dimension>"); return 1 }
          val dim = cppStoi(args(2))
          val store = VectorStore.init(spark, file, dim)
          // init rebuilds the (empty) index explicitly (vectordb.cpp:31)
          warnIfEmpty(store)
          println(s"Database initialized at '$path' with dimension $dim")

        case "add" =>
          if (args.length != 4) { System.err.println(s"Usage: $prog $path add <vector> <metadata_json>"); return 1 }
          val db = warnIfLoadedEmpty(VectorStore.load(spark, file))
          val vec = parseVector(args(2), db.getDimensions)
          // the reference parses metadata before mutating (main.cpp:70);
          // malformed JSON surfaces nlohmann's exact error text
          val metadata = CppJson.compact(CppJson.parse(args(3)))
          val id = db.add(vec, metadata)
          db.save(file)
          println(s"Vector added with ID: $id. Run 'rebuild' to index.")

        case "get" =>
          if (args.length != 3) { System.err.println(s"Usage: $prog $path get <id>"); return 1 }
          val db = warnIfLoadedEmpty(VectorStore.load(spark, file))
          val id = cppStoll(args(2))
          db.get(id) match {
            case Some(rec) =>
              println(s"ID: ${rec.id}")
              println(s"Metadata: ${Envelope.dump2(rec.metadata)}")
              println(rec.embedding.map(f => cppNum(f.toDouble)).mkString("Vector: [", ", ", "]"))
            case None =>
              System.err.println(s"Error: Vector with ID $id not found.")
          }

        case "search" =>
          // `search --approx <k> <q>` extends the reference surface: the
          // recall-targeted selector (AnnSelector) picks the cheapest
          // measured ≥0.9-recall config; tiny stores fall back to the
          // exact scan (an approximate index under ~64 rows measures
          // nothing). Plain `search <k> <q>` stays byte-identical to the
          // reference. The config note goes to stderr so stdout keeps
          // the reference's parseable result format either way.
          val approx = args.length >= 3 && args(2) == "--approx"
          if (args.length != (if (approx) 5 else 4)) {
            System.err.println(s"Usage: $prog $path search <k> <query_vector>"); return 1
          }
          val db = warnIfLoadedEmpty(VectorStore.load(spark, file))
          val k = cppStoi(args(if (approx) 3 else 2))
          val query = parseVector(args(if (approx) 4 else 3), db.getDimensions)
          // with no db file, load() never built an index (vectordb.cpp:121-123)
          if (!db.fromFile)
            throw new IllegalStateException("Index is not built. Run 'rebuild' first.")
          val results =
            if (!approx) db.search(query, k).collect()
            else {
              val corpus = db.toDF.select(
                org.apache.spark.sql.functions.col("id").as("vec_id"),
                org.apache.spark.sql.functions.col("embedding"))
              if (corpus.count() < 64) {
                System.err.println("[approx] corpus below index threshold; using exact scan")
                db.search(query, k).collect()
              } else {
                val (point, res) = graft.index.AnnSelector.searchAtRecall(
                  corpus, query, k, targetRecall = 0.9)
                System.err.println(s"[approx] config=${point.name}")
                res.collect()
              }
            }
          println("Search results (ID, Distance):")
          if (results.isEmpty) println("No results found. Have you run 'rebuild'?")
          results.foreach { row =>
            // sqrt at presentation only, like main.cpp:115-116
            println(s"- ID: ${row.getLong(0)}, Dist: ${cppNum(math.sqrt(row.getDouble(1)))}")
          }

        case "dedup" =>
          // beyond the reference surface: exact-duplicate removal over
          // the store (lowest id wins — graft.dedup's first-occurrence
          // policy), persisted like any other mutation
          if (args.length != 2) { System.err.println(s"Usage: $prog $path dedup"); return 1 }
          val db = warnIfLoadedEmpty(VectorStore.load(spark, file))
          val removed = db.dedupExact()
          db.save(file)
          println(s"Removed $removed duplicate vectors. Run 'rebuild' to index.")

        case "rebuild" =>
          // the reference rebuilds twice here — once inside load() (only
          // if the file exists), once explicitly (main.cpp:120-123)
          val db = warnIfLoadedEmpty(VectorStore.load(spark, file))
          println("Rebuilding index...")
          warnIfEmpty(db)
          println("Index rebuild complete.")

        case "delete" =>
          if (args.length != 3) { System.err.println(s"Usage: $prog $path delete <id>"); return 1 }
          val db = warnIfLoadedEmpty(VectorStore.load(spark, file))
          val id = cppStoll(args(2))
          if (db.delete(id)) {
            db.save(file)
            println(s"Vector $id deleted. Run 'rebuild' to update index.")
          } else System.err.println(s"Error: Vector with ID $id not found.")

        case "update" =>
          if (args.length != 5) { System.err.println(s"Usage: $prog $path update <id> <vector> <metadata>"); return 1 }
          val db = warnIfLoadedEmpty(VectorStore.load(spark, file))
          val id = cppStoll(args(2))
          val vec = parseVector(args(3), db.getDimensions)
          val metadata = CppJson.compact(CppJson.parse(args(4)))
          if (db.update(id, vec, metadata)) {
            db.save(file)
            println(s"Vector $id updated. Run 'rebuild' to update index.")
          } else System.err.println(s"Error: Vector with ID $id not found.")

        case other =>
          System.err.println(s"Unknown command: $other")
          usage(prog)
          return 1
      }
      0
    } catch {
      case e: Exception =>
        System.err.println(s"Error: ${e.getMessage}")
        1
    }
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local(logLevel = "ERROR")
    val code = run(spark, args)
    spark.stop()
    if (code != 0) sys.exit(code)
  }
}
