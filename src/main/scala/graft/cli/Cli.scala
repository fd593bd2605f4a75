package graft.cli

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.connectors.{MockVdb, VdbExporter, VdbImporter}
import graft.core.{Constants, Metric, VdfMeta}
import graft.io.VdfIO
import graft.transform.Reembed

/** Headless CLI mirroring the reference's console scripts
  * (`setup.py:13-25`: export_vdf / import_vdf / reembed_vdf /
  * consolidate_parquet / count_rows / get_id_list).
  *
  * The reference weaves interactive prompting through every connector
  * (`util.py:83-138`); here the engine stays headless and the CLI is a
  * thin argument parser over the library (SURVEY §7.4). Connector
  * registry = name → constructor, the ServiceLoader-style replacement
  * for the reference's pkgutil walk (`export_vdf_cli.py:33-56`).
  */
object Cli {

  /** Connector registry. Real vector-DB SDKs are not reachable from
    * this environment (zero egress); `mock` is the reference
    * implementation of the exporter/importer contract, and new
    * connectors register here, each built from its `--db_root`. */
  val exporters: Map[String, String => VdbExporter] =
    Map("mock" -> (root => new MockVdb(root)))
  val importers: Map[String, String => VdbImporter] =
    Map("mock" -> (root => new MockVdb(root)))

  /** Wire-transport connectors (r8; milvus r9): `--db
    * qdrant|pinecone|chroma|…` speaks the service's REST dialect and
    * `--db milvus` gRPC over HTTP/2, with `--db_root` the base URL or
    * the gRPC endpoint (host:port | h2://host:port | h2s://host:port) —
    * every fetch/upsert is real wire traffic through the DSv2 stack.
    * Export needs `--collections a,b` (the common dialect surface has
    * no listing call — same selection flags as the reference's
    * `--namespaces`/`--classes`). */
  private def wireConnector(db: String, a: Args): graft.connectors.wire.WireCliConnector =
    new graft.connectors.wire.WireCliConnector(db, a.flags("db_root"),
      a.flags.get("collections").map(_.split(",").toSeq).getOrElse(Seq.empty),
      // --api_key overrides; else the dialect's env var
      // (PINECONE_API_KEY, QDRANT_API_KEY, ... — the same fallbacks as
      // the reference's set_arg_from_password prompts)
      apiKey = a.flags.get("api_key"),
      // Vertex AI names three distinct resources (index, endpoint,
      // deployed index); default stays the stub's 1:1 collapse
      vertexEndpointId = a.flags.getOrElse("endpoint_id", "default"),
      vertexDeployedIndexId = a.flags.get("deployed_index_id"),
      // --batch_size: wire page/batch rows (the reference CLI's
      // batch_size knob); 0 = per-dialect defaults
      batchSize = a.flags.get("batch_size").map(_.toInt).getOrElse(0))

  final case class Args(positional: List[String], flags: Map[String, String])

  def parseArgs(argv: Seq[String]): Args = {
    val (flags, pos) = {
      var rest = argv.toList
      val f = scala.collection.mutable.Map[String, String]()
      val p = scala.collection.mutable.ListBuffer[String]()
      while (rest.nonEmpty) rest match {
        case k :: v :: t if k.startsWith("--") && !v.startsWith("--") =>
          f(k.stripPrefix("--")) = v; rest = t
        case k :: t if k.startsWith("--") =>
          f(k.stripPrefix("--")) = "true"; rest = t
        case x :: t => p += x; rest = t
        case Nil =>
      }
      (f.toMap, p.toList)
    }
    Args(pos, flags)
  }

  val commands: Seq[String] =
    Seq("export", "import", "reembed", "consolidate", "count", "id-list", "dedup",
      "search", "mixture", "curate", "tokenize", "pca", "bump-version",
      "version-check")

  /** Frozen per-command help transcripts, mirroring the reference's
    * golden help files (e.g. `docs/export_vdf_pinecone_help.txt`):
    * CliHelpSpec diffs this text against the checked-in goldens under
    * `docs/cli/`, so any CLI surface change is an explicit golden
    * update, never an accident. */
  def helpText(command: String): String = command match {
    case "export" =>
      """usage: graft export --db mock --db_root DIR --out VDF_DIR [--max_file_rows N]
        |
        |Scan every index of the source vector DB into a VDF dataset
        |directory (chunked parquet + VDF_META.json).
        |
        |  --db DB             connector: mock, or a wire transport —
        |                      qdrant|pinecone|chroma|lancedb|kdbai (REST,
        |                      DSv2 offset scan), astra|turbopuffer|weaviate
        |                      (REST, cursor-token chains), vertex (REST,
        |                      list-then-hydrate), milvus (gRPC over
        |                      HTTP/2); fetches are real wire traffic with
        |                      pruning + paging on the wire; API keys from
        |                      each service's env var (PINECONE_API_KEY,
        |                      QDRANT_API_KEY, ZILLIZ_CLOUD_TOKEN, ...)
        |  --db_root DIR       connector root / base URL; for milvus
        |                      host:port or h2://host:port (cleartext) or
        |                      h2s://host:port (TLS)
        |  --collections A,B   collection names (wire dialects only — no
        |                      common enumeration call)
        |  --endpoint_id E     vertex only: index-endpoint id (default:
        |                      "default")
        |  --deployed_index_id D  vertex only: deployed-index id
        |                      (default: the collection name)
        |  --batch_size N      wire page size (rows per scroll/list page;
        |                      default: per-dialect — 1000 offset pages,
        |                      500 cursor pages). Page overhead, not
        |                      bandwidth, bounds a serial cursor scan
        |  --out VDF_DIR       output VDF directory
        |  --max_file_rows N   rows per parquet chunk file (default: engine)
        |  --bucket_by COL:N   write each namespace bucketed by COL into
        |                      N buckets (co-located joins on COL)""".stripMargin
    case "import" =>
      """usage: graft import --db mock --db_root DIR --dir VDF_DIR [--index I]
        |                    [--id_range LO:HI] [--id_list FILE] [--max_rows N] [--create_new]
        |
        |Read a VDF dataset and upsert it into the target vector DB,
        |with the reference's subset filters.
        |
        |  --db DB             connector: mock, or a wire transport —
        |                      qdrant|pinecone|chroma|lancedb|kdbai|astra|
        |                      turbopuffer|weaviate|vertex (REST) /
        |                      milvus (gRPC over HTTP/2); wire upserts
        |                      batch with the shrink-on-fault policy; API
        |                      keys from env vars
        |  --db_root DIR       connector root / base URL; for milvus
        |                      host:port or h2://host:port (cleartext) or
        |                      h2s://host:port (TLS)
        |  --dir VDF_DIR       input VDF directory
        |  --index I           import only this index
        |  --id_range LO:HI    keep ids in [LO, HI] (inclusive)
        |  --id_list FILE      keep ids listed in FILE (one per line)
        |  --max_rows N        global row cap
        |  --endpoint_id E     vertex only: index-endpoint id (default:
        |                      "default")
        |  --deployed_index_id D  vertex only: deployed-index id
        |                      (default: the collection name)
        |  --batch_size N      wire upsert batch rows (default:
        |                      per-dialect — 1000 offset, 500 cursor);
        |                      shrinks ×2/3 on 429/500/413 either way
        |  --create_new        always create a fresh index (name-N suffixing)""".stripMargin
    case "reembed" =>
      """usage: graft reembed --dir VDF_DIR --index I --model M --text_column C
        |                     [--quantize int8|uint8|binary|ubinary] [--dims D]
        |
        |Embed a text column into a new vector column with a new model;
        |writes new files then swaps (never in place) and updates the
        |manifest's vector_columns/model_map.
        |
        |  --dir VDF_DIR       VDF directory to transform
        |  --index I           index to re-embed
        |  --model M           embedding model name (default: hashing)
        |  --text_column C     source text column(s), comma-separated
        |  --quantize Q        optional output quantization
        |  --dims D            embedding dimensions (default: 64)""".stripMargin
    case "consolidate" =>
      """usage: graft consolidate --dir VDF_DIR --index I [--max_size_gb G]
        |
        |Compact an index's many small parquet chunk files into few
        |size-bounded files with a unified schema; patches the manifest.
        |
        |  --dir VDF_DIR       VDF directory
        |  --index I           index to consolidate
        |  --max_size_gb G     target max file size in GB (default: 0.5)""".stripMargin
    case "count" =>
      """usage: graft count --dir VDF_DIR
        |
        |Row count per (index, namespace) plus the total.
        |
        |  --dir VDF_DIR       VDF directory""".stripMargin
    case "id-list" =>
      """usage: graft id-list --dir VDF_DIR --out FILE
        |
        |Write the sorted distinct id set of the whole dataset to CSV.
        |
        |  --dir VDF_DIR       VDF directory
        |  --out FILE          output CSV path""".stripMargin
    case "dedup" =>
      """usage: graft dedup --in PARQUET_DIR --out PARQUET_DIR [--method exact|minhash|excise]
        |                   [--id_column doc_id] [--text_column text]
        |                   [--k 3] [--sig 32] [--bands 8] [--threshold 0.25]
        |
        |Deduplicate a document corpus: exact content fingerprints, or
        |minhash-LSH near-dup clusters keeping the smallest id per
        |cluster. --out must not overlap --in.
        |
        |  --in PARQUET_DIR    input document table
        |  --out PARQUET_DIR   survivor output (fresh directory)
        |  --method M          exact (default), minhash, or excise
        |  --gram N            excision gram size (excise; default: 8)
        |  --id_column C       id column (default: doc_id)
        |  --text_column C     text column (default: text)
        |  --k N               shingle size (minhash; default: 3)
        |  --sig N             signature length (minhash; default: 32)
        |  --bands N           LSH bands (minhash; default: 8)
        |  --threshold T       est. Jaccard cut (minhash; default: 0.25)""".stripMargin
    case "search" =>
      """usage: graft search --in PARQUET_DIR (--query_id N | --vector F,F,...)
        |                    [--k 10] [--index brute|ivf] [--nlist 8] [--nprobe 2]
        |                    [--filter EXPR] [--id_column vec_id] [--vector_column embedding]
        |
        |Cosine top-k over a vector table: brute force (exact) or IVF
        |(coarse-quantized, nprobe of nlist lists scanned). --filter is a
        |SQL predicate over the table's columns, applied to CANDIDATES
        |before the top-k (pre-filtering, the filtered-search semantics
        |of Pinecone/Qdrant/Weaviate). Prints id<TAB>sim, best first.
        |
        |  --in PARQUET_DIR     vector table (id + vector columns)
        |  --query_id N         use the vector of row id N as the query
        |  --vector F,F,...     literal query vector (comma-separated)
        |  --k N                neighbors to return (default: 10)
        |  --index M            brute (default, exact) or ivf
        |  --nlist N            IVF lists (ivf; default: 8)
        |  --nprobe N           IVF lists scanned per query (ivf; default: 2)
        |  --filter EXPR        SQL predicate over table columns
        |  --id_column C        id column (default: vec_id)
        |  --vector_column C    vector column (default: embedding)""".stripMargin
    case "mixture" =>
      """usage: graft mixture --in PARQUET_DIR --out PARQUET_DIR
        |                     [--weights SRC=W,... | --temperature ALPHA]
        |                     [--default_weight 1]
        |                     [--epochs SRC=E,...] [--budget N] [--shuffle S]
        |                     [--source_column source] [--id_column doc_id]
        |                     [--text_column text]
        |
        |Resample a document corpus to a target data mixture. Applied in
        |order: (1) --weights downsamples each source to the target
        |mixture (integer weights 1..10; the limiting source is kept
        |whole; unlisted sources get --default_weight, 0 drops them) OR
        |--temperature derives the weights from the corpus itself so
        |source shares follow n^ALPHA (XLM-R exponential smoothing —
        |ALPHA<1 lifts low-resource sources; 0.5 is the exact-gated
        |point);
        |(2) --budget caps every source at N whitespace tokens (greedy
        |md5-priority prefix); (3) --epochs upsamples by fractional
        |epochs (e.g. 2.5 - repeats become real rows with a `rep`
        |column). Every draw is a pure function of the id, so reruns,
        |engines, and cluster sizes agree. --out must not overlap --in.
        |
        |  --in PARQUET_DIR     input document table
        |  --out PARQUET_DIR    resampled output (fresh directory)
        |  --weights SRC=W,...  integer mixture weights per source (1..10)
        |  --temperature ALPHA  derive weights from counts: shares follow
        |                       n^ALPHA, ALPHA in (0, 1]; mutually
        |                       exclusive with --weights. ALPHA=0.5 uses
        |                       IEEE-exact sqrt (bit-identical across
        |                       engines/hosts); other ALPHA route through
        |                       pow, whose last-ulp rounding is libm-
        |                       dependent — deterministic per host, but
        |                       not guaranteed bit-exact across engines
        |  --default_weight W   weight for unlisted sources (default: 1)
        |  --epochs SRC=E,...   fractional epochs per source, in [1/256, 16]
        |                       (default 1.0; carried in 1/256ths)
        |  --budget N           per-source token cap (default: none)
        |  --shuffle S          write up to S range-sharded files in
        |                       deterministic global training order (md5 of the
        |                       id); reading the files in name order replays the
        |                       exact order. S is an upper bound: tiny corpora
        |                       may produce fewer part files
        |  --stats              also count the input corpus for the summary
        |                       line (an extra full input scan at scale)
        |  --source_column C    source column (default: source)
        |  --id_column C        id column (default: doc_id)
        |  --text_column C      text column for --budget (default: text)""".stripMargin
    case "curate" =>
      """usage: graft curate --in PARQUET_DIR --out PARQUET_DIR
        |                    [--min_tokens 20] [--max_tokens 80]
        |                    [--max_stopword_ratio 0.2] [--split train]
        |                    [--budget N] [--pack N]
        |                    [--bpe_merges N | --bpe_file FILE]
        |                    [--source_column source] [--id_column doc_id]
        |                    [--text_column text]
        |                    [--follow [--watermark "10 minutes"]
        |                     [--ts_column C] [--fp_index PARQUET_DIR]
        |                     [--checkpoint DIR]]
        |
        |Run the composed curation pipeline as ONE dataflow: quality
        |filter -> exact dedup (keep-min per normalized-content
        |fingerprint) -> MinHash-LSH near-dedup -> leak-free
        |decontamination split -> per-source token budget -> sequence
        |packing. Writes the curated documents (id, source, token count,
        |and bin when --pack is set) and prints rows in/out per stage,
        |counted by observers on the single write pass — the corpus is
        |not re-scanned per stage.
        |
        |With --follow, runs the STREAMING front-end instead: each
        |invocation drains whatever new files landed under --in since
        |the last run with the same checkpoint through the stream-safe
        |prefix (quality -> exact dedup within the watermark horizon ->
        |split) and APPENDS the admitted docs to --out. Dedup beyond
        |the horizon rides --fp_index (a prior run's fp column);
        |near-dedup/budget/pack stay batch finishers over the
        |accumulated output.
        |
        |  --in PARQUET_DIR       input document table
        |  --out PARQUET_DIR      curated output (fresh directory;
        |                         appended to under --follow)
        |  --min_tokens N         quality: minimum token count (default: 20)
        |  --max_tokens N         quality: maximum token count (default: 80)
        |  --max_stopword_ratio R quality: stopword-ratio cap (default: 0.2)
        |  --split S              train | val | test | all (default: train)
        |  --budget N             per-source token budget (default: none)
        |  --pack N               assign 'bin' by N-token packing (default: none)
        |  --bpe_merges N         learn an N-merge BPE tokenizer from the raw
        |                         input corpus and denominate EVERY token count
        |                         (quality bounds, budget, bins) in its units
        |                         instead of whitespace words (batch mode only
        |                         — learning needs a static corpus)
        |  --bpe_file FILE        load the tokenizer from a `tokenize
        |                         --out_merges` TSV instead of learning; also
        |                         valid under --follow (use the SAME file for
        |                         the batch sweeps over the accumulated output)
        |  --source_column C      source column (default: source)
        |  --id_column C          id column (default: doc_id)
        |  --text_column C        text column (default: text)
        |  --follow               incremental streaming mode (see above)
        |  --watermark W          dedup-state horizon (default: 10 minutes)
        |  --ts_column C          event-time column (default: stamp the
        |                         micro-batch processing time)
        |  --fp_index DIR         parquet with an fp column: reject these
        |                         fingerprints on first arrival
        |  --checkpoint DIR       stream checkpoint (default: OUT_checkpoint).
        |                         COUPLED to --out: the sink log under OUT
        |                         is keyed by this checkpoint's batch ids,
        |                         so always move/keep them together (the
        |                         command fails loud on a mismatched pair)""".stripMargin
    case "tokenize" =>
      """usage: graft tokenize --in PARQUET_DIR (--merges N | --merges_file FILE)
        |                      [--min_freq N] [--out_merges FILE]
        |                      [--out PARQUET_DIR]
        |                      [--out_ids PARQUET_DIR] [--out_vocab FILE]
        |                      [--vocab_file FILE]
        |                      [--out_packed PARQUET_DIR] [--seq_len N]
        |                      [--eos_id K] [--shuffle_seed S] [--stats]
        |                      [--id_column doc_id] [--text_column text]
        |                      [--source_column source]
        |                      [--follow [--checkpoint DIR]]
        |
        |Learn a BPE merge table from the corpus's own word statistics
        |(Sennrich-style byte-pair encoding: one corpus-scale
        |word-frequency pass, then the merge loop on the vocab-scale
        |table only), or load a previously learned table, and
        |optionally write per-document BPE token counts — the unit the
        |token-budget and packing stages are denominated in. The merges
        |file is TSV (rank<TAB>left<TAB>right<TAB>freq; symbols never
        |contain whitespace), reloadable via --merges_file so a
        |tokenizer learned once can be applied to any corpus.
        |
        |  --in PARQUET_DIR    input document table
        |  --merges N          learn N merges from --in
        |  --min_freq N        drop words seen fewer than N times BEFORE
        |                      learning (SentencePiece/HF min_frequency:
        |                      by definition the merges are those of the
        |                      pruned table — the standard recipe for
        |                      noisy web-scale vocabularies, and what
        |                      pulls a 10^8-distinct-word tail under the
        |                      driver trainer's cap). Learning only;
        |                      token counts/ids still cover every word
        |  --merges_file FILE  load a learned merge table instead
        |  --out_merges FILE   write the merge table as TSV
        |  --out PARQUET_DIR   write per-doc token counts
        |                      (id, n_words, n_tokens; fresh directory)
        |  --out_ids PARQUET_DIR
        |                      write per-doc token-ID sequences — the
        |                      trainer input (id, n_tokens,
        |                      token_ids array<bigint>, document order;
        |                      map-only kernel, no vocab join — every
        |                      input doc gets a row, token-less ones an
        |                      empty sequence)
        |  --out_vocab FILE    write the id vocabulary as TSV
        |                      (token_id<TAB>token: base alphabet in
        |                      binary order, then one id per merge rank;
        |                      with --vocab_file set this re-emits the
        |                      PINNED table — the ids --out_ids actually
        |                      used — never a divergent derived one)
        |  --vocab_file FILE   PIN the id vocabulary for --out_ids from a
        |                      previously written --out_vocab TSV — ids
        |                      derived without it depend on THIS corpus's
        |                      alphabet, so encoding a new corpus for a
        |                      model trained on another one must pin the
        |                      training vocab (ship it with the merges
        |                      file). Tokens outside the pinned vocab
        |                      emit id -1 (UNK), never silently drop
        |  --out_packed PARQUET_DIR
        |                      write PACKED training shards: per source,
        |                      docs in id order are EOS-terminated,
        |                      concatenated, and cut into --seq_len-id
        |                      shards (source, shard, n_ids,
        |                      ids array<bigint>) — docs cross shard
        |                      boundaries, EOS markers carry them; the
        |                      final shard of a source may be short
        |  --seq_len N         shard length for --out_packed
        |                      (default: 2048)
        |  --eos_id K          doc-boundary id for --out_packed
        |                      (default: max vocab id + 1; must not be
        |                      -1 or collide with a vocab id)
        |  --shuffle_seed S    epoch-shuffle --out_packed: pack each
        |                      source's docs in md5(S:doc_id) order
        |                      instead of id order — a deterministic
        |                      per-epoch document permutation decided
        |                      by the data layout (run once per epoch
        |                      with S = "ep1", "ep2", ...; same ids,
        |                      different shard composition)
        |  --stats             also count the distinct-word vocabulary
        |                      for the summary line (an extra job)
        |  --id_column C       id column (default: doc_id)
        |  --text_column C     text column (default: text)
        |  --source_column C   source column for --out_packed's
        |                      per-source packing (default: source)
        |  --follow            STREAMING tokenize: emit id sequences for
        |                      whatever NEW files landed under --in since
        |                      the last run with the same checkpoint,
        |                      appended to --out_ids (drain-and-stop per
        |                      invocation). Requires the PINNED tokenizer
        |                      (--merges_file AND --vocab_file) — the
        |                      map-only id kernel is stateless, so a
        |                      drain costs exactly the new files' scan:
        |                      no vocab join, no watermark, no state.
        |                      Batch sinks (--out/--out_packed/
        |                      --out_merges/--out_vocab/--stats) are
        |                      finishers over the accumulated corpus and
        |                      are rejected here
        |  --checkpoint DIR    --follow progress (default:
        |                      <out_ids>_checkpoint; coupled to the sink
        |                      — keep or recreate them together)""".stripMargin
    case "pca" =>
      """usage: graft pca --in PARQUET_DIR [--k K | --rotate_pq M | --model_file FILE]
        |                 [--out PARQUET_DIR] [--out_model FILE]
        |                 [--id_column vec_id] [--vector_column embedding]
        |
        |Linear re-embedding of the vector column: fit a PCA model on
        |the corpus (one distributed moment pass + a driver-side
        |eigensolve) or load a previously fitted one, then project
        |map-only. --k truncates to the top-K components; --rotate_pq
        |fits FULL-rank and emits the variance-balanced rotation for an
        |M-subspace product quantizer (OPQ-style eigenvalue allocation
        |— same dimensionality, better PQ recall on skewed spectra).
        |The model file is JSON, reloadable via --model_file so a basis
        |fitted once on the big corpus re-applies to any corpus.
        |
        |  --in PARQUET_DIR    input vector table
        |  --k K               fit and keep the top K components (default 16)
        |  --rotate_pq M       fit full-rank, emit the M-subspace
        |                      balanced rotation instead of truncating
        |  --model_file FILE   load a fitted model instead of fitting
        |  --out PARQUET_DIR   write (id, vector) projected as
        |                      array<float> (fresh directory)
        |  --out_model FILE    write the fitted model as JSON
        |  --id_column C       id column (default: vec_id)
        |  --vector_column C   vector column (default: embedding)""".stripMargin
    case "bump-version" =>
      """usage: graft bump-version [--file build.sbt] [--part patch]
        |
        |Bump the version assignment (version := "x.y.z") in a build
        |file, with the standard reset rules: a major bump zeroes minor
        |and patch, a minor bump zeroes patch.
        |
        |  --file FILE   build file to rewrite (default: build.sbt)
        |  --part P      major | minor | patch (default: patch)""".stripMargin
    case "version-check" =>
      """usage: graft version-check [--current X.Y.Z] [--latest X.Y.Z]
        |
        |Print an upgrade hint when the current version's MAJOR.MINOR
        |trails the latest release's; patch releases never nag. With no
        |--current, the version is read from build.sbt. The latest
        |version comes from --latest or $GRAFT_LATEST_VERSION (this
        |build has no network); with neither, the check is silent.""".stripMargin
    case _ =>
      s"""usage: graft <${commands.mkString("|")}> [--flags]
        |  export      --db mock --db_root DIR --out VDF_DIR [--max_file_rows N]
        |  import      --db mock --db_root DIR --dir VDF_DIR [--index I]
        |              [--id_range LO:HI] [--id_list FILE] [--max_rows N] [--create_new]
        |  reembed     --dir VDF_DIR --index I --model M --text_column C [--quantize int8] [--dims D]
        |  consolidate --dir VDF_DIR --index I [--max_size_gb G]
        |  count       --dir VDF_DIR
        |  id-list     --dir VDF_DIR --out FILE
        |  dedup       --in PARQUET_DIR --out PARQUET_DIR [--method exact|minhash|excise]
        |              [--id_column doc_id] [--text_column text]
        |              [--k 3] [--sig 32] [--bands 8] [--threshold 0.25] [--gram 8]
        |  search      --in PARQUET_DIR (--query_id N | --vector F,F,...)
        |              [--k 10] [--index brute|ivf] [--nlist 8] [--nprobe 2] [--filter EXPR]
        |  mixture     --in PARQUET_DIR --out PARQUET_DIR [--weights SRC=W,... | --temperature A]
        |              [--epochs SRC=E,...] [--budget N] [--shuffle S] [--default_weight 1]
        |  curate      --in PARQUET_DIR --out PARQUET_DIR [--min_tokens 20] [--max_tokens 80]
        |              [--max_stopword_ratio 0.2] [--split train] [--budget N] [--pack N]
        |              [--bpe_merges N | --bpe_file FILE]
        |              [--follow [--watermark W] [--ts_column C] [--fp_index DIR] [--checkpoint DIR]]
        |  tokenize    --in PARQUET_DIR (--merges N | --merges_file FILE)
        |              [--out_merges FILE] [--out PARQUET_DIR] [--stats]
        |  bump-version  [--file build.sbt] [--part major|minor|patch]
        |  version-check [--current X.Y.Z] [--latest X.Y.Z]
        |
        |graft help <command> prints per-command help.""".stripMargin
  }

  /** Per-command required-argument prompts — the reference threads
    * `set_arg_from_input` through every connector's arg handling
    * (`util.py:83-138`); here the declarations live in ONE table and
    * fire only in an interactive session (TTY attached or
    * GRAFT_INTERACTIVE=1), so batch runs keep fail-fast behavior. */
  private val requiredPrompts: Map[String, Seq[Prompts.Ask]] = {
    import Prompts.Ask
    Map(
      "export" -> Seq(
        Ask("db", "Enter the DB connector", default = Some("mock"),
          choices = Some(Seq("mock"))),
        Ask("db_root", "Enter the connector root directory: ",
          envVar = Some("GRAFT_DB_ROOT")),
        Ask("out", "Enter the output VDF directory: ")),
      "import" -> Seq(
        Ask("db", "Enter the DB connector", default = Some("mock"),
          choices = Some(Seq("mock"))),
        Ask("db_root", "Enter the connector root directory: ",
          envVar = Some("GRAFT_DB_ROOT")),
        Ask("dir", "Enter the VDF dataset directory: ")),
      "reembed" -> Seq(
        Ask("dir", "Enter the VDF dataset directory: "),
        Ask("index", "Enter the index name: "),
        Ask("model", "Enter the embedding model name: "),
        Ask("text_column", "Enter the text column(s): ")),
      "consolidate" -> Seq(
        Ask("dir", "Enter the VDF dataset directory: "),
        Ask("index", "Enter the index name: ")),
      "count" -> Seq(Ask("dir", "Enter the VDF dataset directory: ")),
      "id-list" -> Seq(
        Ask("dir", "Enter the VDF dataset directory: "),
        Ask("out", "Enter the output id-list file: ")),
      "dedup" -> Seq(
        Ask("in", "Enter the input parquet directory: "),
        Ask("out", "Enter the output parquet directory: ")),
      "search" -> Seq(
        Ask("in", "Enter the input parquet directory: ")),
      "mixture" -> Seq(
        Ask("in", "Enter the input parquet directory: "),
        Ask("out", "Enter the output parquet directory: ")))
  }

  def run(spark: SparkSession, argv: Seq[String]): Int =
    run(spark, argv, if (Prompts.interactive) Some(Prompts.ConsoleIO) else None)

  /** `io`: Some(terminal) enables interactive completion of missing
    * required args before dispatch; None is the batch path. */
  def run(spark: SparkSession, argv: Seq[String],
      io: Option[Prompts.IO]): Int = {
    val parsed = parseArgs(argv)
    val args = (parsed.positional, io) match {
      case (cmd :: Nil, Some(term))
          if !parsed.flags.contains("help") && requiredPrompts.contains(cmd) =>
        parsed.copy(flags =
          Prompts.fill(parsed.flags, requiredPrompts(cmd), term))
      case _ => parsed
    }
    args.positional match {
      case "help" :: rest =>
        println(helpText(rest.headOption.getOrElse("")))
        0
      case cmd :: Nil if args.flags.contains("help") =>
        println(helpText(cmd))
        0
      case "export" :: Nil => cmdExport(spark, args)
      case "import" :: Nil => cmdImport(spark, args)
      case "reembed" :: Nil => cmdReembed(spark, args)
      case "consolidate" :: Nil => cmdConsolidate(spark, args)
      case "count" :: Nil => cmdCount(spark, args)
      case "id-list" :: Nil => cmdIdList(spark, args)
      case "dedup" :: Nil => cmdDedup(spark, args)
      case "search" :: Nil => cmdSearch(spark, args)
      case "mixture" :: Nil => cmdMixture(spark, args)
      case "curate" :: Nil => cmdCurate(spark, args)
      case "tokenize" :: Nil => cmdTokenize(spark, args)
      case "pca" :: Nil => cmdPca(spark, args)
      case "bump-version" :: Nil => cmdBumpVersion(args)
      case "version-check" :: Nil => cmdVersionCheck(args)
      case other =>
        System.err.println(s"unknown command: ${other.mkString(" ")}")
        System.err.println(helpText(""))
        2
    }
  }

  /** A `--db` that names no connector: usage error, with the list. */
  private def unknownDb(cmd: String, db: String): Int = {
    val names = exporters.keys.toSeq.sorted ++
      graft.connectors.wire.WireCliConnector.DialectNames.toSeq.sorted
    System.err.println(s"$cmd: unknown --db '$db' (${names.mkString("|")})")
    2
  }

  /** export_vdf: scan every index of the source DB → VDF dir (§3.1). */
  private def cmdExport(spark: SparkSession, a: Args): Int = {
    val db = a.flags.getOrElse("db", "mock")
    val exp: VdbExporter =
      if (graft.connectors.wire.WireCliConnector.DialectNames(db)) {
        require(a.flags.get("collections").exists(_.nonEmpty),
          s"--db $db needs --collections a,b (wire dialects don't enumerate)")
        wireConnector(db, a)
      } else {
        val make = exporters.getOrElse(db, return unknownDb("export", db))
        val root = a.flags("db_root")
        if (!java.nio.file.Files.isDirectory(java.nio.file.Paths.get(root))) {
          System.err.println(s"export: --db_root '$root' is not a directory")
          return 2
        }
        make(root)
      }
    val out = a.flags("out")
    val frames = exp.indexNames.map(ix => (ix, "") -> exp.scan(spark, ix)).toMap
    // record each index's distance metric so import doesn't silently
    // fall back to Cosine (`util.py:221-248` metric normalization)
    val metrics = exp.indexNames.map(ix => ix -> exp.metric(ix).name).toMap
    // --bucket_by id:32 → the namespaces land as a bucketed layout
    // (co-located joins on the key in every later session); the files
    // stay plain parquet to readers that ignore the sidecar
    val bucketBy = a.flags.get("bucket_by").map { v =>
      v.split(":", 2) match {
        case Array(k, n) => (k, n.toInt)
        case _ => sys.error(s"--bucket_by wants col:buckets, got '$v'")
      }
    }
    val meta = VdfIO.writeVdf(frames, out, exportedFrom = db,
      maxRecordsPerFile = a.flags.get("max_file_rows").map(_.toLong).getOrElse(0L),
      metrics = metrics, bucketBy = bucketBy)
    println(s"exported ${meta.indexes.size} index(es) to $out")
    0
  }

  /** import_vdf with the reference's subset flags (§3.2:
    * id-list P4, id-range P5, max rows L1, create_new A4). */
  private def cmdImport(spark: SparkSession, a: Args): Int = {
    val db = a.flags.getOrElse("db", "mock")
    val imp: VdbImporter =
      if (graft.connectors.wire.WireCliConnector.DialectNames(db))
        wireConnector(db, a)
      else importers.getOrElse(db, return unknownDb("import", db))(
        a.flags("db_root"))
    val dir = a.flags("dir")
    val meta = VdfIO.readMeta(dir)
    val idCol = meta.idColumnOrDefault
    var total = 0L
    for {
      (index, nss) <- meta.indexes
      if a.flags.get("index").forall(_ == index)
      ns <- nss
    } {
      var df = VdfIO.readNamespace(spark, dir, ns)
      a.flags.get("id_range").foreach { r =>
        val Array(lo, hi) = r.split(":").map(_.toLong)
        df = df.filter(col(idCol).cast("long").between(lo, hi))
      }
      a.flags.get("id_list").foreach { f =>
        df = df.join(spark.read.text(f).select(col("value").as(idCol)),
          Seq(idCol), "left_semi")
      }
      a.flags.get("max_rows").foreach(n => df = df.limit(n.toInt))
      val name = imp.ensureIndex(index, ns.dimensions,
        Metric.standardize(meta.exported_from, ns.metric.getOrElse("Cosine")),
        createNew = a.flags.contains("create_new"))
      total += imp.upsert(name, df, idCol)
    }
    println(s"imported $total rows from $dir")
    0
  }

  /** reembed_vdf (§3.3): new vector column via the deterministic
    * hashing embedder (a real provider plugs in the same trait). */
  private def cmdReembed(spark: SparkSession, a: Args): Int = {
    val dir = a.flags("dir")
    val index = a.flags("index")
    val meta = VdfIO.readMeta(dir)
    val model = a.flags.getOrElse("model", "hashing")
    val dims = a.flags.get("dims").map(_.toInt).getOrElse(64)
    val textCols = a.flags("text_column").split(",").toSeq
    val updated = meta.indexes(index).map { ns =>
      val df = VdfIO.readNamespace(spark, dir, ns)
      val (out, newNs) = Reembed.reembedNamespace(df, ns, textCols, model,
        new Reembed.HashingEmbedder(dims), quantize = a.flags.get("quantize"))
      // write-new-then-swap, never in place (SURVEY §7.4); the swap
      // targets the namespace's own subtree (writeNamespace nests
      // non-empty namespaces one level down) and is safe for
      // data_path "." bootstrapped datasets
      VdfIO.writeNamespace(out, dir, ns.index_name + "__reembed", ns.namespace,
        vectorColumns = newNs.vector_columns, metric = ns.metric,
        modelName = newNs.model_name)
      val tmpPath =
        if (ns.namespace.isEmpty) ns.index_name + "__reembed"
        else s"${ns.index_name}__reembed/${ns.namespace}"
      VdfIO.swapDataPath(dir, ns.data_path, tmpPath)
      newNs.copy(data_path = ns.data_path).withExtrasFrom(ns)
    }
    val dirPath = java.nio.file.Paths.get(dir)
    VdfMeta.write(meta.copy(
      indexes = meta.indexes.updated(index, updated),
      file_structure = VdfIO.listParquetFiles(dir).map(
        dirPath.relativize(_).toString).sorted.toList)
      .withExtrasFrom(meta), dir)
    println(s"reembedded index $index with $model (dims=$dims)")
    0
  }

  private def cmdConsolidate(spark: SparkSession, a: Args): Int = {
    val gb = a.flags.get("max_size_gb").map(_.toDouble).getOrElse(0.5)
    VdfIO.consolidate(spark, a.flags("dir"), a.flags("index"),
      (gb * 1024 * 1024 * 1024).toLong)
    println(s"consolidated ${a.flags("index")}")
    0
  }

  /** count_rows (`scripts/count_rows.py:21-49`). */
  private def cmdCount(spark: SparkSession, a: Args): Int = {
    val dir = a.flags("dir")
    val meta = VdfIO.readMeta(dir)
    val counts = for {
      (index, nss) <- meta.indexes; ns <- nss
    } yield s"$index/${ns.namespace}" ->
      VdfIO.readNamespace(spark, dir, ns).count()
    counts.foreach { case (k, n) => println(s"$k: $n") }
    println(s"total: ${counts.map(_._2).sum}")
    0
  }

  /** get_id_list (`scripts/get_id_list.py:12-47`): sorted distinct ids
    * to a file; missing ids reported via the distributed anti-join. */
  private def cmdIdList(spark: SparkSession, a: Args): Int = {
    val dir = a.flags("dir")
    val meta = VdfIO.readMeta(dir)
    val idCol = meta.idColumnOrDefault
    val ids = meta.indexes.values.flatten
      .map(ns => VdfIO.readNamespace(spark, dir, ns).select(col(idCol)))
      .reduce(_ union _)
      .distinct()
    ids.orderBy(idCol).write.mode("overwrite").csv(a.flags("out"))
    println(s"wrote distinct ids to ${a.flags("out")}")
    0
  }

  /** Corpus dedup as a tool: exact (content fingerprint, keep min id)
    * or minhash (LSH candidate pairs → connected-component clusters →
    * keep min id per cluster — `DupClusters.dedupKeepMin`). Operates on
    * a plain parquet document table, the shape training pipelines
    * actually dedup; beyond-parity op (SURVEY §7.5). */
  /** Shared --in/--out safety gate for corpus-rewriting commands.
    * mode(overwrite) deletes --out before the lazy plan has read
    * --in; writing onto (or under/over) the input would destroy the
    * corpus mid-read. Refuse in-place invocations outright.
    * Syntactic compare alone is bypassable (file:// URIs parse as
    * weird relative paths; symlinked aliases normalize differently),
    * so URI schemes are rejected and links resolved via the deepest
    * existing ancestor's real path. Returns Some(exitCode) on
    * rejection. */
  private def inOutGuard(a: Args, cmd: String): Option[Int] = {
    val missing = Seq("in", "out").filterNot(a.flags.contains)
    if (missing.nonEmpty) {
      System.err.println(
        s"$cmd: missing required ${missing.map("--" + _).mkString(", ")} " +
          s"(usage: $cmd --in PARQUET_DIR --out PARQUET_DIR ...)")
      return Some(2)
    }
    if (Seq("in", "out").exists(f => a.flags(f).matches("^[A-Za-z][A-Za-z0-9+.-]*:.*"))) {
      System.err.println(
        s"$cmd: --in/--out must be plain local paths (no URI scheme)")
      return Some(2)
    }
    // Component-wise walk, resolving each existing segment to its real
    // (symlink-free) path BEFORE applying a later '..': a textual
    // normalize collapses 'link/../x' to the link's PARENT while the
    // filesystem resolves it under the link's TARGET, so normalizing
    // first would let an overlapping --out slip past the guard.
    // Nonexistent tail segments append textually ('..' on them is safe:
    // a path that does not exist cannot be a symlink).
    def real(s: String): java.nio.file.Path = {
      import java.nio.file.{Files, LinkOption, Paths}
      val abs = Paths.get(s).toAbsolutePath
      var p = abs.getRoot
      val it = abs.iterator()
      while (it.hasNext) {
        it.next().toString match {
          case "" | "." => ()
          case ".." => p = Option(p.getParent).getOrElse(p)
          case name =>
            val cand = p.resolve(name)
            p =
              if (Files.exists(cand, LinkOption.NOFOLLOW_LINKS))
                try cand.toRealPath()
                catch { case _: java.io.IOException => cand }
              else cand
        }
      }
      p
    }
    val inP = real(a.flags("in"))
    val outP = real(a.flags("out"))
    if (outP == inP || outP.startsWith(inP) || inP.startsWith(outP)) {
      System.err.println(
        s"$cmd: --out ($outP) overlaps --in ($inP); write to a fresh " +
          "directory and swap afterwards (in-place overwrite would " +
          "delete the input while the job is still reading it)")
      return Some(2)
    }
    None
  }

  private def cmdDedup(spark: SparkSession, a: Args): Int = {
    inOutGuard(a, "dedup") match {
      case Some(code) => return code
      case None =>
    }
    val docs = spark.read.parquet(a.flags("in"))
    val idCol = a.flags.getOrElse("id_column", "doc_id")
    val textCol = a.flags.getOrElse("text_column", "text")
    val method = a.flags.getOrElse("method", "exact")
    val survivors = method match {
      case "exact" =>
        val keep = graft.dedup.Dedup
          .exactGroups(docs, idCol, md5(col(textCol)))
          .select(col("keep_id").as(idCol))
        docs.join(keep, Seq(idCol), "left_semi")
      case "minhash" =>
        val pairs = graft.dedup.Dedup.minhashLshPairs(docs, idCol, textCol,
          a.flags.getOrElse("k", "3").toInt,
          a.flags.getOrElse("sig", "32").toInt,
          a.flags.getOrElse("bands", "8").toInt,
          a.flags.getOrElse("threshold", "0.25").toDouble)
        graft.dedup.DupClusters.dedupKeepMin(docs, idCol, pairs,
          "doc_a", "doc_b")
      case "excise" =>
        // exact-substring excision: REWRITES text (duplicated n-gram
        // spans removed) instead of dropping rows; rows cleaned to
        // empty text are dropped, like the reference pipelines drop
        // empty docs after cleaning
        val cleaned = graft.dedup.Dedup
          .exciseDupSpans(docs, idCol, textCol,
            a.flags.getOrElse("gram", "8").toInt)
          .filter(col("clean") =!= "")
          .select(col("doc_id").as(idCol), col("clean").as(textCol))
        docs.drop(textCol).join(cleaned, Seq(idCol), "inner")
      case other =>
        System.err.println(s"unknown dedup method: $other")
        return 2
    }
    survivors.write.mode("overwrite").parquet(a.flags("out"))
    val (n0, n1) = (docs.count(),
      spark.read.parquet(a.flags("out")).count())
    println(s"dedup($method): kept $n1 of $n0 rows -> ${a.flags("out")}")
    0
  }

  /** Cosine top-k over a vector table — the query half of the vector
    * DBs the reference moves data between (brute = exact; ivf = the
    * coarse-quantized scale path; `--filter` = the pre-filtered search
    * semantics of Pinecone `filter=`/Qdrant payload filters). */
  private def cmdSearch(spark: SparkSession, a: Args): Int = {
    if (!a.flags.contains("in") ||
        !(a.flags.contains("query_id") || a.flags.contains("vector"))) {
      System.err.println(
        "search: need --in and one of --query_id / --vector " +
          "(usage: search --in PARQUET_DIR (--query_id N | --vector F,F,...))")
      return 2
    }
    val idCol = a.flags.getOrElse("id_column", "vec_id")
    val vecCol = a.flags.getOrElse("vector_column", "embedding")
    val k = a.flags.getOrElse("k", "10").toInt
    val table = spark.read.parquet(a.flags("in"))
    val q: DataFrame = a.flags.get("vector") match {
      case Some(csv) =>
        val v = csv.split(",").map(_.trim.toFloat).toSeq
        spark.range(1).select(lit(-1L).as("q_id"), typedLit(v).as("q_vec"))
      case None =>
        val qid = a.flags("query_id").toLong
        val qdf = table.filter(col(idCol) === qid)
          .select(col(idCol).cast("long").as("q_id"), col(vecCol).as("q_vec"))
        if (qdf.isEmpty) {
          System.err.println(s"search: --query_id $qid not found in ${a.flags("in")}")
          return 2
        }
        qdf
    }
    val predicate = a.flags.get("filter").map(expr)
    val hits = a.flags.getOrElse("index", "brute") match {
      case "brute" =>
        val cands = predicate.fold(table)(table.filter)
          .select(col(idCol).cast("long").as("vec_id"), col(vecCol).as("embedding"))
        graft.similarity.Knn.bruteForceTopK(q, cands, k)
      case "ivf" =>
        val nlist = a.flags.getOrElse("nlist", "8").toInt
        val nprobe = a.flags.getOrElse("nprobe", "2").toInt
        val ix = graft.similarity.Ivf.build(table, idCol, vecCol, nlist)
        predicate match {
          case Some(p) => graft.similarity.Ivf.searchWhere(ix, q, k, nprobe, p)
          case None => graft.similarity.Ivf.search(ix, q, k, nprobe)
        }
      case other =>
        System.err.println(s"search: unknown --index $other (brute|ivf)")
        return 2
    }
    val rows = hits
      .select(col(hits.columns(1)).cast("string").as("id"), col("sim"))
      .orderBy(col("sim").desc, col("id"))
      .collect()
    rows.foreach(r => println(s"${r.getString(0)}\t${"%.6f".format(r.getDouble(1))}"))
    println(s"${rows.length} neighbor(s)")
    0
  }

  /** Data-mixture resampling over a document corpus — the curation
    * step next to dedup in a training pipeline: target source weights,
    * per-source token budgets, fractional-epoch upsampling, applied in
    * that order. Kernels are `ops/Mixture` — the same code paths the
    * oracle-gated q_mixture_sample / q_token_budget / q_mixture_epochs
    * queries hash-match against DuckDB. */
  private def cmdMixture(spark: SparkSession, a: Args): Int = {
    inOutGuard(a, "mixture") match {
      case Some(code) => return code
      case None =>
    }
    val srcCol = a.flags.getOrElse("source_column", "source")
    val idCol = a.flags.getOrElse("id_column", "doc_id")
    val textCol = a.flags.getOrElse("text_column", "text")
    def parsePairs(flag: String): Either[String, Map[String, String]] =
      a.flags.get(flag) match {
        case None => Right(Map.empty)
        case Some(s) =>
          val kvs = s.split(",").filter(_.nonEmpty).map(_.split("=", 2))
          if (kvs.exists(_.length != 2))
            Left(s"mixture: --$flag expects SRC=VALUE,SRC=VALUE,...")
          else Right(kvs.map(kv => kv(0) -> kv(1)).toMap)
      }
    val (weights, epochs) =
      (parsePairs("weights"), parsePairs("epochs")) match {
        case (Left(e), _) => System.err.println(e); return 2
        case (_, Left(e)) => System.err.println(e); return 2
        case (Right(w), Right(ep)) => (w, ep)
      }
    val defW = a.flags.getOrElse("default_weight", "1")
    val allW = weights.values.toSeq :+ defW
    if (allW.exists(v => v.toIntOption.isEmpty || v.toInt < 0 || v.toInt > 10)) {
      System.err.println("mixture: weights must be integers 0..10 " +
        "(0 drops the source; the keep rule needs weights dividing 2520)")
      return 2
    }
    // lower bound matches the 1/256 quantization floor: an epoch value
    // whose math.round(e*256) is 0 would silently drop the whole source
    if (epochs.values.exists(v =>
        v.toDoubleOption.isEmpty || v.toDouble <= 0 || v.toDouble > 16 ||
        math.round(v.toDouble * 256) == 0)) {
      System.err.println(
        "mixture: epochs must be in [1/256, 16] (carried in 1/256ths)")
      return 2
    }
    val temperature = a.flags.get("temperature") match {
      case None => None
      case Some(s) => s.toDoubleOption.filter(v => v > 0 && v <= 1) match {
        case None =>
          System.err.println("mixture: --temperature must be in (0, 1]")
          return 2
        case some => some
      }
    }
    if (temperature.isDefined && (weights.nonEmpty || defW != "1")) {
      System.err.println("mixture: --temperature derives weights from " +
        "corpus counts; it cannot be combined with --weights/--default_weight")
      return 2
    }
    var df = spark.read.parquet(a.flags("in"))
    var stages = List.empty[String]
    temperature.foreach { alpha =>
      df = graft.ops.Mixture.temperature(df, srcCol, idCol, alpha)
      stages ::= s"temperature($alpha)"
    }
    if (weights.nonEmpty || defW != "1") {
      val wCol = weights.foldLeft(lit(defW.toInt)) { case (acc, (src, w)) =>
        when(col(srcCol) === src, lit(w.toInt)).otherwise(acc)
      }
      df = graft.ops.Mixture.resample(df, srcCol, idCol, wCol)
      stages ::= s"weights(${weights.size} listed, default $defW)"
    }
    a.flags.get("budget").foreach { b =>
      b.toLongOption.filter(_ > 0) match {
        case None =>
          System.err.println("mixture: --budget must be a positive integer")
          return 2
        case Some(budget) =>
          df = graft.ops.Mixture.tokenBudget(df, srcCol, idCol,
            expr(s"size(${graft.QueriesCommon.toksSqlFor(textCol)})"), lit(budget))
          stages ::= s"budget($budget tokens/source)"
      }
    }
    if (epochs.nonEmpty) {
      val eCol = epochs.foldLeft(lit(256L)) { case (acc, (src, e)) =>
        when(col(srcCol) === src,
          lit(math.round(e.toDouble * 256))).otherwise(acc)
      }
      df = graft.ops.Mixture.epochs(df, idCol, eCol)
      stages ::= s"epochs(${epochs.size} listed)"
    }
    a.flags.get("shuffle") match {
      case Some(s0) =>
        s0.toIntOption.filter(_ > 0) match {
          case None =>
            System.err.println("mixture: --shuffle must be a positive shard count")
            return 2
          case Some(shards) =>
            // deterministic global training order, range-sharded: a
            // trainer streaming the part files in name order replays
            // the exact md5 order; epoch repeats of one doc order by
            // their rep index so reruns are byte-identical
            val tie = if (df.columns.contains("rep")) Seq("rep") else Nil
            graft.ops.Mixture.writeShuffledShards(df, idCol,
              a.flags("out"), shards, tie)
            stages ::= s"shuffle($shards shards)"
        }
      case None =>
        df.write.mode("overwrite").parquet(a.flags("out"))
    }
    // the input-side count is a second full corpus scan — at scale
    // that's real money for a log line, so it's opt-in via --stats
    val n1 = spark.read.parquet(a.flags("out")).count()
    val inPart =
      if (a.flags.contains("stats"))
        s"${spark.read.parquet(a.flags("in")).count()} rows -> "
      else ""
    println(s"mixture(${stages.reverse.mkString(" -> ")}): " +
      s"$inPart$n1 rows -> ${a.flags("out")}")
    0
  }

  /** The composed curation pipeline as a CLI verb: ONE dataflow from
    * the raw document table to the curated training set, with
    * per-stage row counts observed on the single write pass (no
    * per-stage re-scan; observers are write-pass-safe — no global sort
    * below them). */
  private def cmdCurate(spark: SparkSession, a: Args): Int = {
    import graft.pipeline.Curation
    inOutGuard(a, "curate") match {
      case Some(code) => return code
      case None =>
    }
    val srcCol = a.flags.getOrElse("source_column", "source")
    val idCol = a.flags.getOrElse("id_column", "doc_id")
    val textCol = a.flags.getOrElse("text_column", "text")
    val minTok = a.flags.getOrElse("min_tokens", "20").toIntOption
    val maxTok = a.flags.getOrElse("max_tokens", "80").toIntOption
    val maxStop = a.flags.getOrElse("max_stopword_ratio", "0.2").toDoubleOption
    if (minTok.isEmpty || maxTok.isEmpty || maxStop.isEmpty
        || minTok.get < 0 || maxTok.get < minTok.get
        || maxStop.get < 0 || maxStop.get > 1) {
      System.err.println("curate: --min_tokens/--max_tokens must be " +
        "0 <= min <= max; --max_stopword_ratio in [0, 1]")
      return 2
    }
    val split = a.flags.getOrElse("split", "train")
    if (!Seq("train", "val", "test", "all").contains(split)) {
      System.err.println("curate: --split must be train|val|test|all")
      return 2
    }
    val budget = a.flags.get("budget").map(_.toLongOption.filter(_ > 0))
    val packN = a.flags.get("pack").map(_.toIntOption.filter(_ > 0))
    if (budget.contains(None) || packN.contains(None)) {
      System.err.println("curate: --budget/--pack must be positive integers")
      return 2
    }
    val bpeN = a.flags.get("bpe_merges")
    val bpeFile = a.flags.get("bpe_file")
    if (bpeN.isDefined && bpeFile.isDefined) {
      System.err.println("curate: --bpe_merges and --bpe_file are exclusive")
      return 2
    }
    if (bpeN.exists(_.toIntOption.forall(_ < 0))) {
      System.err.println("curate: --bpe_merges must be a non-negative integer")
      return 2
    }
    if (bpeN.isDefined && a.flags.contains("follow")) {
      // learning needs a static corpus — a stream-learned table could
      // never match the batch finishers'. A PERSISTED table
      // (--bpe_file) is stream-safe: the same file denominates both
      // the stream and the batch sweep over the accumulated output.
      System.err.println(
        "curate: --bpe_merges is batch-mode only (use --bpe_file " +
          "with a table learned by `tokenize` under --follow)")
      return 2
    }
    if (a.flags.contains("follow") && a.flags("follow") != "true") {
      // parseArgs binds `--follow X` as follow=X; silently falling
      // back to BATCH mode on a stray token would mode("overwrite")
      // the corpus accumulated by prior --follow runs
      System.err.println("curate: --follow takes no value " +
        s"(got '${a.flags("follow")}' — a misplaced argument?)")
      return 2
    }
    if (a.flags.contains("follow")) {
      // STREAMING ingest mode: process whatever NEW files landed under
      // --in since the last run with the same checkpoint, through the
      // stream-safe prefix (quality → exact dedup within the watermark
      // horizon, optionally anti-joined against --fp_index → split),
      // and APPEND the admitted docs to --out. Trigger.AvailableNow
      // drains the backlog and stops — the reference's incremental-
      // marker use case (SURVEY S6f) as checkpointed streaming state
      // instead of mutated metadata. Cross-RUN dedup durability beyond
      // the watermark horizon belongs to --fp_index (a prior run's
      // fingerprint column); budget/pack are batch finishers over the
      // accumulated output and are rejected here.
      if (budget.isDefined || packN.isDefined) {
        System.err.println(
          "curate: --budget/--pack are batch finishers over the " +
            "accumulated output; not valid with --follow")
        return 2
      }
      val wm = a.flags.getOrElse("watermark", "10 minutes")
      val fpIndex = a.flags.get("fp_index").map(p =>
        spark.read.parquet(p).select(col("fp")))
      val schema = spark.read.parquet(a.flags("in")).schema
      val tsCol = a.flags.get("ts_column")
      val base = spark.readStream.schema(schema).parquet(a.flags("in"))
      val renamed = base.select(
        col(idCol).as("doc_id") :: col(textCol).as("text") ::
          col(srcCol).as("source") ::
          tsCol.map(c => col(c).as("__ts")).toList: _*)
      // without an event-time column, stamp the micro-batch's
      // processing time (evaluated once per batch — a valid, monotone
      // watermark column for the ingest-dedup horizon)
      val withTs = if (tsCol.isDefined) renamed
        else renamed.withColumn("__ts", current_timestamp())
      // a PERSISTED merge table re-denominates the stream (map-only
      // column swap, stream shape unchanged); the batch finishers
      // over the accumulated output must use the same --bpe_file.
      // The fast kernel column (exact vs the replace-tower form,
      // BpeSpec-pinned) keeps a production-sized table map-only AND
      // codegen'd — 32k nested replaces would fall out of codegen
      val followTok = bpeFile.map(f => readMergesTsv(f) match {
        case Left(err) => System.err.println(s"curate: $err"); return 2
        case Right(ms) =>
          graft.functions.Bpe.docTokenCountFastCol(col("text"), ms)
      })
      val curated = followTok match {
        case Some(c) => graft.pipeline.Curation.streamingPrefix(withTs,
          "__ts", wm, fpIndex, split, minTok.get, maxTok.get,
          maxStop.get, nTokCol = c)
        case None => graft.pipeline.Curation.streamingPrefix(withTs,
          "__ts", wm, fpIndex, split, minTok.get, maxTok.get, maxStop.get)
      }
      val ckpt = a.flags.getOrElse("checkpoint",
        a.flags("out") + "_checkpoint")
      // same local-path boundary as --in/--out (inOutGuard): the
      // coupling guards below are java.io.File checks, and a
      // URI-form checkpoint would break them in both directions
      // (File("file:///x").exists is always false)
      if (ckpt.matches("^[A-Za-z][A-Za-z0-9+.-]*:.*")) {
        System.err.println(
          "curate: --checkpoint must be a plain local path (no URI scheme)")
        return 2
      }
      // the parquet streaming sink and its checkpoint are a COUPLED
      // pair: the sink's _spark_metadata log is keyed by batch ids
      // from the checkpoint, and the checkpoint's offsets record which
      // source files are already processed. Fail loud on every
      // mismatched combination instead of silently skipping writes,
      // silently omitting rows, or hiding batch-written files:
      //  (a) sink log present, checkpoint fresh → the sink skips
      //      already-committed batch ids (writes silently dropped);
      //  (b) --out exists but isn't a streaming sink → reads of the
      //      mixed dir would return only sink-logged files;
      //  (c) checkpoint carries offsets but the sink log is gone →
      //      already-processed source files would be silently OMITTED
      //      from the fresh --out (the mirror of (a)).
      val outDir = new java.io.File(a.flags("out"))
      val sinkLog = new java.io.File(outDir, "_spark_metadata")
      if (sinkLog.exists && !new java.io.File(ckpt).exists) {
        System.err.println("curate: --out carries a streaming sink " +
          "log but the checkpoint is fresh — the sink would silently " +
          "skip already-committed batch ids. Pass the checkpoint that " +
          "wrote it (or a fresh --out).")
        return 2
      }
      if (!sinkLog.exists && outDir.isDirectory
          && outDir.listFiles != null && outDir.listFiles.nonEmpty) {
        System.err.println("curate: --out exists but was not written " +
          "by --follow (no _spark_metadata) — appending a streaming " +
          "sink into it would hide the existing rows on read. Use a " +
          "fresh --out.")
        return 2
      }
      if (!sinkLog.exists
          && new java.io.File(ckpt, "offsets").exists) {
        System.err.println("curate: --checkpoint already carries " +
          "source offsets but --out has no sink log — the processed " +
          "files would be silently omitted from the fresh output. " +
          "Keep the sink and checkpoint together (or start both fresh).")
        return 2
      }
      // schema guard: appending rows with a different column set into
      // an existing sink makes reads nondeterministic (parquet picks
      // one file's footer) — fail loud instead
      if (sinkLog.exists) {
        val have = spark.read.parquet(a.flags("out")).columns.toSet
        val want = Set("ingest_ts", idCol, srcCol, textCol, "n_tok", "fp")
        if (have != want) {
          System.err.println("curate: --out was written with a " +
            s"different schema (${have.mkString(",")} vs " +
            s"${want.mkString(",")}) — start a fresh --out.")
          return 2
        }
      }
      // exact admitted count from the sink itself (recentProgress is
      // capped at 100 entries — a long backlog drain would
      // under-report); counted BEFORE the stream starts
      def sinkRows(): Long =
        if (!sinkLog.exists) 0L
        else spark.read.parquet(a.flags("out")).count()
      val before = sinkRows()
      val q = curated
        .withColumnRenamed("__ts", "ingest_ts")
        .withColumnRenamed("doc_id", idCol)
        .withColumnRenamed("source", srcCol)
        .withColumnRenamed("text", textCol)
        .writeStream.format("parquet")
        .option("path", a.flags("out"))
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val admitted = sinkRows() - before
      println(s"curate --follow: admitted $admitted new docs -> " +
        s"${a.flags("out")} (checkpoint $ckpt)")
      return 0
    }
    val raw = spark.read.parquet(a.flags("in"))
      .select(col(idCol).as("doc_id"), col(textCol).as("text"),
        col(srcCol).as("source"))
    import org.apache.spark.sql.Observation
    val obs = scala.collection.mutable.ListBuffer[(String, Observation)]()
    def observed(name: String, df: org.apache.spark.sql.DataFrame) = {
      val o = Observation(s"curate_$name")
      obs += name -> o
      df.observe(o, count(lit(1)).as("rows"))
    }
    // the learned-BPE re-denomination of the whole pipeline (quality
    // bounds, budget, packing bins): learn from the raw input corpus
    // (tokenizers are trained pre-filter), or load a persisted table —
    // a map-only column swap, the dataflow shape is unchanged
    val bpeMerges: Option[Seq[graft.functions.Bpe.Merge]] = bpeN match {
      case Some(n) => Some(graft.functions.Bpe.learn(
        graft.functions.Bpe.wordFreq(raw, "text"), n.toInt))
      case None => bpeFile.map(f => readMergesTsv(f) match {
        case Left(err) => System.err.println(s"curate: $err"); return 2
        case Right(m) => m
      })
    }
    var df = observed("input", raw)
    df = observed("quality_filter", bpeMerges match {
      case Some(m) => Curation.qualityFilter(df, minTok.get, maxTok.get,
        maxStop.get,
        nTokCol = graft.functions.Bpe.docTokenCountFastCol(col("text"), m))
      case None =>
        Curation.qualityFilter(df, minTok.get, maxTok.get, maxStop.get)
    })
    df = observed("exact_dedup", Curation.exactDedup(df))
    // materialization barrier (same reasoning as Curation.dedupBarrier):
    // ONE execution of the scan→tokenize→dedup subtree serves both the
    // carried chain and the self-referential LSH candidate branch —
    // this also keeps the stage-1/2 observers single-fire (block
    // locking computes each cached partition exactly once), which the
    // pre-barrier code had to guarantee with an un-observed twin of
    // the chain that paid the second corpus pass
    val deduped = df.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    df = observed("neardup_lsh", Curation.nearDedupLsh(deduped))
    if (split != "all")
      df = observed(s"split_$split", Curation.keepSplit(df, split))
    budget.flatten.foreach { b =>
      df = observed(s"budget_$b", Curation.tokenBudgetWith(df, lit(b)))
    }
    var out = df.select(col("doc_id"), col("source"),
      col("n_tok").cast("long").as("n_tok"))
    packN.flatten.foreach { n => out = Curation.packAssign(out, n) }
    // VdfIO's local parquet writer: no forked chmod, no .crc sidecars
    VdfIO.writeParquet(out
      .withColumnRenamed("doc_id", idCol)
      .withColumnRenamed("source", srcCol), a.flags("out"))
    deduped.unpersist(false)
    val counts = obs.toList.map { case (n, o) =>
      n -> o.get("rows").asInstanceOf[Long] }
    val tok = bpeMerges.fold("")(m => s"[bpe=${m.size} merges]")
    println(counts.map { case (n, c) => s"$n=$c" }.mkString(s"curate$tok: ",
      " -> ", s" -> ${a.flags("out")}"))
    0
  }

  /** The TSV merge-table format shared by `tokenize --out_merges` and
    * every `--merges_file`/`--bpe_file` reader: one
    * rank<TAB>left<TAB>right<TAB>freq line per merge (symbols are
    * whitespace-split words' fragments, so tabs/newlines can't occur). */
  private def readMergesTsv(path: String)
      : Either[String, Seq[graft.functions.Bpe.Merge]] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    val lines = try src.getLines().filter(_.nonEmpty).toList
      finally src.close()
    val parsed = lines.map { line =>
      scala.util.Try(line.split("\t", -1) match {
        case Array(rank, l, r, freq) =>
          graft.functions.Bpe.Merge(rank.toInt, l, r, freq.toLong)
      }).toOption
    }
    parsed.zip(lines).find(_._1.isEmpty) match {
      case Some((_, bad)) => Left(s"malformed merges line: $bad")
      case None =>
        val rows = parsed.flatten
        // ranks must be positive and UNIQUE: the fast kernel dedupes
        // candidates by rank (a TreeMap keyed on it), so two merges at
        // one rank would silently drop one there while the replace
        // tower applied both — reject the file instead of diverging
        rows.find(_.rank < 1) match {
          case Some(m) => Left(s"non-positive merge rank: ${m.rank}")
          case None =>
            val dup = rows.groupBy(_.rank).collectFirst {
              case (rk, ms) if ms.size > 1 => rk
            }
            dup match {
              case Some(rk) => Left(s"duplicate merge rank: $rk")
              case None => Right(rows.sortBy(_.rank))
            }
        }
    }
  }

  /** The TSV vocab format `tokenize --out_vocab` writes and
    * `--vocab_file` pins: one token_id<TAB>token line per entry (ids
    * need not be dense — a hand-curated vocab with holes is valid). */
  private def readVocabTsv(path: String)
      : Either[String, Seq[(String, Long)]] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    val lines = try src.getLines().filter(_.nonEmpty).toList
      finally src.close()
    val parsed = lines.map { line =>
      scala.util.Try(line.split("\t", -1) match {
        case Array(id, token) if token.nonEmpty => (token, id.toLong)
      }).toOption
    }
    parsed.zip(lines).find(_._1.isEmpty) match {
      case Some((_, bad)) => Left(s"malformed vocab line: $bad")
      case None =>
        val rows = parsed.flatten
        val dup = rows.groupBy(_._1).collectFirst {
          case (t, vs) if vs.size > 1 => t
        }
        dup match {
          case Some(t) => Left(s"duplicate token in vocab: $t")
          case None =>
            // ids must be non-negative: −1 is the reserved UNK
            // sentinel in --out_ids output, so a pinned vocab carrying
            // it (or any negative id) would be indistinguishable from
            // unknown tokens downstream
            rows.find(_._2 < 0L) match {
              case Some((t, id)) => Left(s"negative token_id $id for token: $t")
              case None => Right(rows)
            }
        }
    }
  }

  /** BPE tokenizer induction/application (`functions/Bpe`, SURVEY
    * §7.5's training-data layer): learn a merge table from the
    * corpus's own word statistics — one corpus-scale word-frequency
    * pass, then a vocab-scale merge loop — persist it as TSV, and/or
    * write per-document BPE token counts (the budget/pack stages'
    * denomination). Merge symbols can never contain whitespace (words
    * are whitespace-split), so the TSV is loss-free. */
  private def cmdTokenize(spark: SparkSession, a: Args): Int = {
    val haveLearn = a.flags.contains("merges")
    val haveLoad = a.flags.contains("merges_file")
    if (!a.flags.contains("in") || (haveLearn == haveLoad)) {
      System.err.println(
        "tokenize: need --in and exactly one of --merges N / --merges_file FILE " +
          "(usage: tokenize --in PARQUET_DIR (--merges N | --merges_file FILE) " +
          "[--out_merges FILE] [--out PARQUET_DIR])")
      return 2
    }
    // each parquet sink gets the full in/out path guard (out_ids is
    // guarded by substituting it into the "out" slot)
    for (o <- Seq("out", "out_ids", "out_packed") if a.flags.contains(o)) {
      inOutGuard(a.copy(flags = a.flags + ("out" -> a.flags(o))),
          "tokenize") match {
        case Some(code) => return code
        case None =>
      }
    }
    if (haveLearn && a.flags("merges").toIntOption.forall(_ < 0)) {
      System.err.println("tokenize: --merges must be a non-negative integer")
      return 2
    }
    // --min_freq prunes the word table before LEARNING only (the
    // SentencePiece/HF min_frequency recipe — see Bpe.learn); a loaded
    // table was learned elsewhere, so combining them is a usage error
    val minFreq: Long = a.flags.get("min_freq") match {
      case None => 1L
      case Some(v) =>
        val p = v.toLongOption
        if (p.forall(_ < 1) || haveLoad) {
          System.err.println(if (haveLoad)
            "tokenize: --min_freq applies to learning (--merges N), not --merges_file"
          else "tokenize: --min_freq must be a positive integer")
          return 2
        }
        p.get
    }
    // --out_packed knobs, validated before any work: shard length and
    // the EOS doc-boundary id (-1 is reserved for UNK; collisions with
    // vocab ids are checked against the table actually in use below)
    val seqLen: Int = a.flags.getOrElse("seq_len", "2048").toIntOption match {
      case Some(v) if v >= 1 => v
      case _ =>
        System.err.println("tokenize: --seq_len must be a positive integer")
        return 2
    }
    val eosIdOpt: Option[Long] = a.flags.get("eos_id") match {
      case None => None
      case Some(v) => v.toLongOption match {
        case Some(e) if e != -1L => Some(e)
        case _ =>
          System.err.println(
            "tokenize: --eos_id must be an integer other than -1 (the UNK sentinel)")
          return 2
      }
    }
    if ((a.flags.contains("seq_len") || a.flags.contains("eos_id") ||
        a.flags.contains("shuffle_seed")) && !a.flags.contains("out_packed")) {
      System.err.println(
        "tokenize: --seq_len/--eos_id/--shuffle_seed only apply with --out_packed")
      return 2
    }
    val idCol = a.flags.getOrElse("id_column", "doc_id")
    val textCol = a.flags.getOrElse("text_column", "text")
    val srcCol = a.flags.getOrElse("source_column", "source")
    if (a.flags.contains("follow")) {
      // STREAMING tokenize: emit id sequences for whatever NEW files
      // landed under --in since the last run with the same checkpoint,
      // APPENDED to --out_ids. The map-only id kernel is what makes
      // this a stream at all: no vocab join, no aggregation, no
      // watermark, no state store — one codegen'd column over the
      // micro-batch, so each drain costs exactly the new files' scan.
      // The tokenizer must be PINNED (--merges_file + --vocab_file):
      // ids derived from "the corpus" are undefined when the corpus is
      // still arriving, and a training pipeline tails these shards
      // against one fixed vocabulary anyway.
      if (a.flags("follow") != "true") {
        // parseArgs binds `--follow X` as follow=X; silently falling
        // back to BATCH mode on a stray token would mode("overwrite")
        // the id shards accumulated by prior --follow runs
        System.err.println("tokenize: --follow takes no value " +
          s"(got '${a.flags("follow")}' — a misplaced argument?)")
        return 2
      }
      if (haveLearn || !a.flags.contains("vocab_file")) {
        System.err.println("tokenize: --follow needs a PINNED tokenizer " +
          "(--merges_file AND --vocab_file; learning with --merges is a " +
          "batch pass over a corpus the stream has not finished seeing)")
        return 2
      }
      if (!a.flags.contains("out_ids")) {
        System.err.println("tokenize: --follow emits id sequences; set --out_ids")
        return 2
      }
      for (o <- Seq("out", "out_packed", "out_merges", "out_vocab", "stats")
          if a.flags.contains(o)) {
        System.err.println(s"tokenize: --$o is a batch sink/artifact " +
          "(run it over the accumulated corpus); not valid with --follow")
        return 2
      }
      val merges = readMergesTsv(a.flags("merges_file")) match {
        case Left(err) => System.err.println(s"tokenize: $err"); return 2
        case Right(m) => m
      }
      val idRows = readVocabTsv(a.flags("vocab_file")) match {
        case Left(err) => System.err.println(s"tokenize: $err"); return 2
        case Right(rows) => rows
      }
      val out = a.flags("out_ids")
      val ckpt = a.flags.getOrElse("checkpoint", out + "_checkpoint")
      // same sink/checkpoint coupling guards as curate --follow: the
      // parquet sink's _spark_metadata log and the checkpoint's source
      // offsets are a pair — every mismatched combination silently
      // drops writes, hides rows, or omits files
      if (ckpt.matches("^[A-Za-z][A-Za-z0-9+.-]*:.*")) {
        System.err.println(
          "tokenize: --checkpoint must be a plain local path (no URI scheme)")
        return 2
      }
      val outDir = new java.io.File(out)
      val sinkLog = new java.io.File(outDir, "_spark_metadata")
      if (sinkLog.exists && !new java.io.File(ckpt).exists) {
        System.err.println("tokenize: --out_ids carries a streaming sink " +
          "log but the checkpoint is fresh — the sink would silently " +
          "skip already-committed batch ids. Pass the checkpoint that " +
          "wrote it (or a fresh --out_ids).")
        return 2
      }
      if (!sinkLog.exists && outDir.isDirectory
          && outDir.listFiles != null && outDir.listFiles.nonEmpty) {
        System.err.println("tokenize: --out_ids exists but was not " +
          "written by --follow (no _spark_metadata) — appending a " +
          "streaming sink into it would hide the existing rows on " +
          "read. Use a fresh --out_ids.")
        return 2
      }
      if (!sinkLog.exists && new java.io.File(ckpt, "offsets").exists) {
        System.err.println("tokenize: --checkpoint already carries " +
          "source offsets but --out_ids has no sink log — the processed " +
          "files would be silently omitted from the fresh output. " +
          "Keep the sink and checkpoint together (or start both fresh).")
        return 2
      }
      val schema = spark.read.parquet(a.flags("in")).schema
      if (sinkLog.exists) {
        val have = spark.read.parquet(out).columns.toSet
        if (have != Set(idCol, "n_tokens", "token_ids")) {
          System.err.println("tokenize: --out_ids was written with a " +
            s"different schema (${have.mkString(",")}) — start a fresh " +
            "--out_ids.")
          return 2
        }
      }
      def sinkRows(): Long =
        if (!sinkLog.exists) 0L else spark.read.parquet(out).count()
      val before = sinkRows()
      val q = graft.functions.Bpe.docTokenIdsFast(
          spark.readStream.schema(schema).parquet(a.flags("in")),
          textCol, Seq(idCol), merges, idRows)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      println(s"tokenize --follow: emitted ${sinkRows() - before} new id " +
        s"rows (pinned vocab, ${merges.size} merges) -> $out (checkpoint $ckpt)")
      return 0
    }
    val docs = spark.read.parquet(a.flags("in"))
    // every sink below re-reads the word table (learn, the id table,
    // --stats) — persist the ONE corpus-scale pass instead of paying it
    // per sink
    val words = graft.functions.Bpe.wordFreq(docs, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val merges: Seq[graft.functions.Bpe.Merge] =
      if (haveLearn)
        graft.functions.Bpe.learn(words, a.flags("merges").toInt,
          minFreq = minFreq)
      else readMergesTsv(a.flags("merges_file")) match {
        case Left(err) => System.err.println(s"tokenize: $err"); return 2
        case Right(m) => m
      }
    a.flags.get("out_merges").foreach { f =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(f),
        merges.map(m => s"${m.rank}\t${m.left}\t${m.right}\t${m.freq}")
          .mkString("", "\n", "\n"))
    }
    a.flags.get("out").foreach { out =>
      graft.functions.Bpe.docCounts(docs, textCol, Seq(idCol), merges)
        .write.mode("overwrite").parquet(out)
    }
    // a pinned --vocab_file makes emitted ids portable across corpora
    // (ship it with the merges file; unknown tokens emit -1 = UNK);
    // without it ids derive from THIS corpus's alphabet
    val pinnedRows: Option[Seq[(String, Long)]] =
      a.flags.get("vocab_file").map { f =>
        readVocabTsv(f) match {
          case Left(err) => System.err.println(s"tokenize: $err"); return 2
          case Right(rows) => rows
        }
      }
    // derived id table computed ONCE, shared by --out_ids/--out_packed
    // and --out_vocab
    lazy val derivedIds = graft.functions.Bpe.vocabIds(words, merges)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the id rows the MAP-ONLY kernel route (BpeDocTokenIds) rides: no
    // corpus join, no vocab broadcast — a pinned vocab is already in
    // hand, a derived one collects its alphabet+merges rows
    // (driver-sized by construction, never corpus-vocabulary-sized)
    lazy val idRows: Seq[(String, Long)] = pinnedRows.getOrElse(
      derivedIds.collect().map(r => (r.getString(0), r.getLong(1))).toSeq)
    a.flags.get("out_ids").foreach { out =>
      graft.functions.Bpe
        .docTokenIdsFast(docs, textCol, Seq(idCol), merges, idRows)
        .write.mode("overwrite").parquet(out)
    }
    a.flags.get("out_packed").foreach { out =>
      // packed training shards: EOS defaults to (max vocab id + 1) —
      // the next free id — and an explicit --eos_id must not collide
      // with a real token's id or boundaries would be unrecoverable
      val eos = eosIdOpt.getOrElse(idRows.map(_._2).max + 1L)
      if (eosIdOpt.isDefined && idRows.exists(_._2 == eos)) {
        System.err.println(
          s"tokenize: --eos_id $eos collides with a vocabulary token id")
        return 2
      }
      if (!docs.columns.contains(srcCol)) {
        System.err.println(s"tokenize: --out_packed needs source column " +
          s"'$srcCol' (set --source_column)")
        return 2
      }
      val perDoc = graft.functions.Bpe
        .docTokenIdsFast(docs, textCol, Seq(srcCol, idCol), merges, idRows)
      graft.functions.Bpe
        .packTokenIds(perDoc, srcCol, idCol, seqLen, eos,
          shuffleSeed = a.flags.get("shuffle_seed"))
        .write.mode("overwrite").parquet(out)
    }
    a.flags.get("out_vocab").foreach { f =>
      // with a pinned --vocab_file the PINNED table is what --out_ids
      // encoded against, so that is what ships — writing the
      // corpus-derived table here would pair two artifacts with
      // inconsistent id spaces
      val rows = pinnedRows match {
        case Some(p) => p.sortBy(_._2).map { case (t, id) => s"$id\t$t" }
        case None => derivedIds
          .orderBy("token_id").collect() // vocab-sized: alphabet + merges
          .map(r => s"${r.getLong(1)}\t${r.getString(0)}").toSeq
      }
      java.nio.file.Files.writeString(java.nio.file.Paths.get(f),
        rows.mkString("", "\n", "\n"))
    }
    val stats =
      if (a.flags.contains("stats"))
        s" over ${words.count()} distinct words" else ""
    words.unpersist(false)
    val action = if (haveLearn) "learned" else "loaded"
    val sinks = Seq(
      a.flags.get("out_merges").map(f => s"merges -> $f"),
      a.flags.get("out").map(o => s"token counts -> $o"),
      a.flags.get("out_ids").map(o =>
        s"token ids${if (pinnedRows.isDefined) " (pinned vocab)" else ""} -> $o"),
      a.flags.get("out_packed").map(o => s"packed shards (seq_len=$seqLen" +
        a.flags.get("shuffle_seed").map(s => s", shuffled '$s'").getOrElse("") +
        s") -> $o"),
      a.flags.get("out_vocab").map(f => s"vocab -> $f")).flatten
    println(s"tokenize: $action ${merges.size} merges$stats" +
      (if (sinks.isEmpty) "" else sinks.mkString(" (", "; ", ")")))
    0
  }

  /** PCA fit/project over a parquet vector table (`similarity/Pca`):
    * the linear re-embedding step of an embedding pipeline, as a
    * pipeline verb. Exactly one basis source — fit (--k / --rotate_pq)
    * or load (--model_file) — and at least one sink (--out /
    * --out_model), so an invocation that computes nothing is an
    * explicit usage error rather than a silent no-op. */
  private def cmdPca(spark: SparkSession, a: Args): Int = {
    import org.apache.spark.sql.functions.{col, size}
    val sources = Seq("k", "rotate_pq", "model_file").filter(a.flags.contains)
    if (!a.flags.contains("in") || sources.length > 1) {
      System.err.println(
        "pca: need --in and at most one of --k K / --rotate_pq M / " +
          "--model_file FILE (usage: pca --in PARQUET_DIR " +
          "[--k K | --rotate_pq M | --model_file FILE] " +
          "[--out PARQUET_DIR] [--out_model FILE])")
      return 2
    }
    if (!a.flags.contains("out") && !a.flags.contains("out_model")) {
      System.err.println("pca: need at least one sink (--out / --out_model)")
      return 2
    }
    if (a.flags.contains("out")) {
      inOutGuard(a, "pca") match {
        case Some(code) => return code
        case None =>
      }
    }
    for (f <- Seq("k", "rotate_pq") if a.flags.contains(f))
      if (a.flags(f).toIntOption.forall(_ < 1)) {
        System.err.println(s"pca: --$f must be a positive integer")
        return 2
      }
    val idCol = a.flags.getOrElse("id_column", "vec_id")
    val vecCol = a.flags.getOrElse("vector_column", "embedding")
    val vecs = spark.read.parquet(a.flags("in"))
    val rotateM = a.flags.get("rotate_pq").map(_.toInt)
    val model: graft.similarity.Pca.PcaModel =
      a.flags.get("model_file") match {
        case Some(f) => graft.similarity.Pca.readModel(f)
        case None =>
          val k = rotateM match {
            case Some(_) => // full-rank: resolve dim from the data
              vecs.select(size(col(vecCol)).as("d"))
                .filter(col("d") > 0).head().getInt(0)
            case None => a.flags.get("k").map(_.toInt).getOrElse(16)
          }
          graft.similarity.Pca.fit(vecs, vecCol, k)
      }
    rotateM match {
      case Some(_) if model.k != model.dim =>
        System.err.println(
          s"pca: --rotate_pq needs a full-rank model (k=dim), " +
            s"got k=${model.k} dim=${model.dim}")
        return 2
      case Some(m) if model.dim % m != 0 =>
        System.err.println(
          s"pca: --rotate_pq $m does not divide dim ${model.dim}")
        return 2
      case _ =>
    }
    a.flags.get("out_model").foreach(
      graft.similarity.Pca.writeModel(model, _))
    if (a.flags.contains("out")) {
      // a dim mismatch would null EVERY projected row and still exit 0
      // — fail fast instead (matters most for --model_file reuse)
      val dataDim = vecs.select(size(col(vecCol)).as("d"))
        .filter(col("d") > 0).head().getInt(0)
      if (dataDim != model.dim) {
        System.err.println(
          s"pca: model dim ${model.dim} does not match the data's " +
            s"vector length $dataDim")
        return 2
      }
    }
    a.flags.get("out").foreach { out =>
      val proj = rotateM match {
        case Some(m) => graft.similarity.Pca.matVec(col(vecCol),
          graft.similarity.Pca.pqRotation(model, m), model.mean)
        case None => graft.similarity.Pca.project(col(vecCol), model)
      }
      vecs.filter(col(vecCol).isNotNull)
        .select(col(idCol), proj.cast("array<float>").as(vecCol))
        .write.mode("overwrite").parquet(out)
    }
    val shape = rotateM match {
      case Some(m) => s"rotated dim=${model.dim} for m=$m subspaces"
      case None => s"dim=${model.dim} -> k=${model.k}"
    }
    val sinks = Seq(
      a.flags.get("out_model").map(f => s"model -> $f"),
      a.flags.get("out").map(o => s"projected -> $o")).flatten
    println(f"pca: $shape over n=${model.n} vectors, " +
      f"varianceExplained=${model.varianceExplained}%.4f" +
      (if (sinks.isEmpty) "" else sinks.mkString(" (", "; ", ")")))
    0
  }

  /** `bump_version.py` for the sbt layout: rewrite the version
    * assignment in place with the reference's reset rules. */
  private def cmdBumpVersion(a: Args): Int = {
    val file = a.flags.getOrElse("file", "build.sbt")
    val part = a.flags.getOrElse("part", "patch")
    val p = java.nio.file.Paths.get(file)
    if (!java.nio.file.Files.isRegularFile(p)) {
      System.err.println(s"bump-version: no such file $file")
      return 2
    }
    Versioning.bump(java.nio.file.Files.readString(p), part) match {
      case Left(err) =>
        System.err.println(s"bump-version: $err"); 2
      case Right((content, old, next)) =>
        java.nio.file.Files.writeString(p, content)
        println(s"Updated version: $old -> $next ($file)")
        0
    }
  }

  /** `check_for_updates.py` without the network: latest arrives via
    * --latest / $GRAFT_LATEST_VERSION; silent when absent, exactly
    * like the reference when its PyPI request fails. */
  private def cmdVersionCheck(a: Args): Int = {
    val current = a.flags.get("current").orElse {
      val p = java.nio.file.Paths.get("build.sbt")
      if (java.nio.file.Files.isRegularFile(p))
        Versioning.bump(java.nio.file.Files.readString(p), "patch")
          .toOption.map(_._2)
      else None
    }
    val latest = a.flags.get("latest")
      .orElse(sys.env.get("GRAFT_LATEST_VERSION"))
    (current, latest) match {
      case (Some(c), Some(l)) =>
        Versioning.updateMessage(c, l).foreach(println)
        0
      case (None, _) =>
        System.err.println(
          "version-check: no --current and no build.sbt version found")
        2
      case _ => 0 // no latest source: silent, like a failed fetch
    }
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    if (java.nio.file.Files.isDirectory(p)) {
      val s = java.nio.file.Files.list(p)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.foreach(deleteRecursively)
      } finally s.close()
    }
    java.nio.file.Files.deleteIfExists(p)
  }

  /** `run` under the root span, the reference's CLI shape
    * (`export_vdf_cli.py:86-96`: start_as_current_span("…_cli_main"),
    * errors recorded on the span, flush before exit); disabled by
    * DISABLE_TELEMETRY_VECTORIO=1 exactly like the reference. */
  def runTraced(spark: SparkSession, argv: Seq[String]): Int =
    graft.telemetry.Spans.withSpan("graft_cli_main") {
      graft.telemetry.Spans.setAttribute("argv", spanArgv(argv))
      run(spark, argv)
    }

  /** argv as recorded on the root span: the token after `--api_key`
    * becomes `***`, so the credential never reaches a span sink. */
  private def spanArgv(argv: Seq[String]): String =
    argv.indices.map(i =>
      if (i > 0 && argv(i - 1) == "--api_key") "***" else argv(i))
      .mkString(" ")

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[4]"))
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      .config("spark.ui.enabled", "false")
      // static conf: the default 100-entry codegen cache thrashes once a
      // workload carries more than a few dozen distinct plans, making
      // every run re-compile every whole-stage unit through Janino
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val rc = runTraced(spark, args.toSeq)
    spark.stop()
    if (rc != 0) sys.exit(rc)
  }
}
