package graft.repl

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{StructField, StructType}

/** Completion snippets — behavioral analog of the reference's completion
  * machinery (Common.scala:366-569; per-table completions
  * OutputTable.scala:97-146): static per-magic snippets plus, for every table
  * in the session catalog, a `SELECT <all flattened columns> FROM t` snippet
  * built by recursively flattening the schema (nested struct fields become
  * dotted paths; names with characters outside [A-Za-z0-9_] are
  * backtick-escaped, Common.scala:342-352).
  */
object Completions {

  final case class Completion(label: String, snippet: String)

  val static: Seq[Completion] = Seq(
    Completion("%sql", "%sql outputView=v persist=false\nSELECT * FROM table"),
    Completion("%sqlvalidate", "%sqlvalidate\nSELECT TRUE AS valid, TO_JSON(NAMED_STRUCT('message', 'ok')) AS message"),
    Completion("%metadata", "%metadata viewName"),
    Completion("%printmetadata", "%printmetadata viewName"),
    Completion("%schema", "%schema viewName"),
    Completion("%printschema", "%printschema viewName"),
    Completion("%metadatafilter", "%metadatafilter inputView=v outputView=v2\nSELECT name FROM ${inputView} WHERE metadata['pii'] IS NULL"),
    Completion("%metadatavalidate", "%metadatavalidate inputView=v\nSELECT SUM(CASE WHEN metadata['pii'] = 'true' THEN 1 ELSE 0 END) = 0 AS valid, 'no pii' AS message FROM ${inputView}"),
    Completion("%log", "%log\nSELECT TO_JSON(NAMED_STRUCT('rows', COUNT(*))) FROM table"),
    Completion("%configexecute", "%configexecute\nSELECT TO_JSON(NAMED_STRUCT('key', 'value'))"),
    Completion("%list", "%list hdfs://path/"),
    Completion("%env", "%env key=value"),
    Completion("%secret", "%secret key=value"),
    Completion("%conf", "%conf numRows=20 truncate=50 streaming=false master=local[*] environment=production"),
    Completion("%summary", "%summary viewName"),
    Completion("%arc",
      "{stages: [\n" +
        "  {type = \"SQLTransform\", name = \"q\", environments = [production]\n" +
        "   sql = \"\"\"SELECT 1 AS x\"\"\", outputView = \"v\"}\n" +
        "]}"),
    Completion("%lifecycleplugin",
      "{plugins: {lifecycle: [\n" +
        "  {type = \"my.pkg.HookClass\", environments = [production]}\n" +
        "]}}"),
    Completion("%configplugin",
      "{plugins: {config: [\n" +
        "  {type = \"graft.core.EnvConfigPlugin\", prefix = \"ETL_CONF_\"}\n" +
        "]}}"),
    Completion("%sql (quality signals)",
      "%sql outputView=signals\nSELECT doc_id, char_entropy(text) AS char_entropy,\n" +
        "       deflate_ratio(text) AS deflate_ratio\nFROM documents"),
    Completion("DeduplicateTransform",
      "{type = \"DeduplicateTransform\", name = \"dedup\", inputView = \"v\", outputView = \"v2\",\n" +
        " idField = \"id\", textField = \"text\", method = \"minhash\", threshold = 0.8}"),
    Completion("DecontaminateTransform",
      "{type = \"DecontaminateTransform\", name = \"decon\", inputView = \"train\", evalView = \"eval\",\n" +
        " outputView = \"clean\", idField = \"id\", textField = \"text\", ngram = 8, action = \"filter\"}"),
    Completion("SampleTransform",
      "{type = \"SampleTransform\", name = \"sample\", inputView = \"v\", outputView = \"v2\",\n" +
        " method = \"hash\", keyField = \"id\", rate = 0.1}"),
    Completion("ChunkTransform",
      "{type = \"ChunkTransform\", name = \"chunk\", inputView = \"v\", outputView = \"v2\",\n" +
        " textField = \"text\", chunkSize = 2048, overlap = 0}"),
    Completion("BucketedTableLoad",
      "{type = \"BucketedTableLoad\", name = \"bucket\", inputView = \"v\", table = \"t_bucketed\",\n" +
        " bucketByFields = [\"key\"], numBuckets = 32}"),
    Completion("SegmentDedupTransform",
      "{type = \"SegmentDedupTransform\", name = \"segdedup\", inputView = \"v\", outputView = \"v2\",\n" +
        " idField = \"id\", textField = \"text\", segmentWords = 8, action = \"filter\", maxSharedFraction = 0.5}"),
    Completion("ResampleTransform",
      "{type = \"ResampleTransform\", name = \"resample\", inputView = \"v\", outputView = \"v2\",\n" +
        " keyField = \"id\", timeField = \"ts\", valueField = \"value\", step = \"1 hour\"}"),
    Completion("SketchTransform",
      "{type = \"SketchTransform\", name = \"ndv\", inputView = \"v\", outputView = \"v2\",\n" +
        " groupFields = [\"source\"], sketchFields = [\"doc_id\"], mode = \"estimate\"}"),
    Completion("MinhashIndexLoad",
      "{type = \"MinhashIndexLoad\", name = \"index\", inputView = \"corpus\", outputURI = \"/path/idx\",\n" +
        " idField = \"id\", textField = \"text\"}"),
    Completion("IvfIndexLoad",
      "{type = \"IvfIndexLoad\", name = \"ivf\", inputView = \"corpus\", outputURI = \"/path/ivf\",\n" +
        " idField = \"id\", vectorField = \"embedding\", numLists = 64}"),
    Completion("IvfQueryTransform",
      "{type = \"IvfQueryTransform\", name = \"retrieve\", inputView = \"queries\", outputView = \"hits\",\n" +
        " indexURI = \"/path/ivf\", idField = \"id\", vectorField = \"embedding\", k = 10, numProbes = 4}"),
    Completion("IndexDedupTransform",
      "{type = \"IndexDedupTransform\", name = \"ingest\", inputView = \"batch\", outputView = \"kept\",\n" +
        " indexURI = \"/path/idx\", idField = \"id\", textField = \"text\", action = \"filter\"}"),
    Completion("BloomTransform",
      "{type = \"BloomTransform\", name = \"scrub\", inputView = \"corpus\", outputView = \"clean\",\n" +
        " keyField = \"id\", mode = \"antiJoin\", filterView = \"blocklist\", bits = 4194304, hashes = 5}"),
    Completion("LangModelTransform",
      "{type = \"LangModelTransform\", name = \"score\", inputView = \"docs\", outputView = \"scored\",\n" +
        " idField = \"doc_id\", textField = \"text\", mode = \"score\", bigramView = \"bg\", unigramView = \"ug\"}"),
    Completion("PqQueryTransform",
      "{type = \"PqQueryTransform\", name = \"pq\", inputView = \"queries\", corpusView = \"corpus\",\n" +
        " outputView = \"hits\", idField = \"id\", vectorField = \"embedding\", dim = 64, k = 10}"),
    Completion("HeavyHittersTransform",
      "{type = \"HeavyHittersTransform\", name = \"hh\", inputView = \"v\", outputView = \"top\",\n" +
        " keyField = \"key\", cap = 64, action = \"estimate\"}"),
    Completion("MediaTransform",
      "{type = \"MediaTransform\", name = \"decode\", inputView = \"media\", outputView = \"decoded\",\n" +
        " binaryField = \"blob\", action = \"decode\"}"),
    Completion("TokenizerTransform",
      "{type = \"TokenizerTransform\", name = \"bpe\", inputView = \"docs\", outputView = \"merges\",\n" +
        " textField = \"text\", mode = \"train\", numMerges = 200}"),
    Completion("TokenizerTransform unigram",
      "{type = \"TokenizerTransform\", name = \"unigram\", inputView = \"docs\", outputView = \"vocab\",\n" +
        " textField = \"text\", algo = \"unigram\", mode = \"train\", vocabSize = 8000}"),
    Completion("MojibakeTransform",
      "{type = \"MojibakeTransform\", name = \"fixenc\", inputView = \"docs\", outputView = \"fixed\",\n" +
        " textField = \"text\"}"),
    Completion("TokenizerTransform wordpiece",
      "{type = \"TokenizerTransform\", name = \"wordpiece\", inputView = \"docs\", outputView = \"vocab\",\n" +
        " textField = \"text\", algo = \"wordpiece\", mode = \"train\", vocabSize = 8000}"),
    Completion("OutlierTransform",
      "{type = \"OutlierTransform\", name = \"screen\", inputView = \"docs\", outputView = \"flagged\",\n" +
        " valueField = \"n_chars\", groupFields = [\"source\"], mode = \"flag\", k = 3.5}"),
    Completion("ClassifierTransform",
      "{type = \"ClassifierTransform\", name = \"nb\", inputView = \"labeled\", outputView = \"model\",\n" +
        " textField = \"text\", labelField = \"label\", mode = \"train\", maxVocab = 100000}"),
    Completion("IndexDedupTransform (takedown delete)",
      "{type = \"IndexDedupTransform\", name = \"takedown\", inputView = \"removed_ids\", outputView = \"report\",\n" +
        " indexURI = \"/path/mhidx\", idField = \"doc_id\", textField = \"text\", action = \"delete\"}"),
    Completion("WordCountsTransform",
      "{type = \"WordCountsTransform\", name = \"wc\", inputView = \"batch\", outputView = \"counts\",\n" +
        " countsURI = \"/path/wordcounts\", textField = \"text\", action = \"ingest\"}"),
    Completion("TokenizerTransform (retrain from counts)",
      "{type = \"TokenizerTransform\", name = \"retrain\", inputView = \"counts\", outputView = \"vocab\",\n" +
        " textField = \"text\", algo = \"unigram\", mode = \"trainFromCounts\", vocabSize = 8000}"),
    Completion("ClassifierTransform (ingest batch)",
      "{type = \"ClassifierTransform\", name = \"daily\", inputView = \"batch\", outputView = \"model2\",\n" +
        " textField = \"text\", labelField = \"label\", mode = \"ingest\", modelView = \"model\"}"),
    Completion("MediaTransform (video frames)",
      "{type = \"MediaTransform\", name = \"frames\", inputView = \"clips\", outputView = \"framed\",\n" +
        " binaryField = \"video\", action = \"frames\", numFrames = 8}"),
    Completion("LangIdTransform",
      "{type = \"LangIdTransform\", name = \"langid\", inputView = \"docs\", outputView = \"labelled\",\n" +
        " textField = \"text\", method = \"ngram\"}"),
    Completion("MediaTransform (audio resample)",
      "{type = \"MediaTransform\", name = \"resample\", inputView = \"clips\", outputView = \"mono16k\",\n" +
        " binaryField = \"audio\", action = \"resampleAudio\", targetSampleRate = 16000}"),
    Completion("MediaTransform (extract AVI audio track)",
      "{type = \"MediaTransform\", name = \"track\", inputView = \"clips\", outputView = \"withAudio\",\n" +
        " binaryField = \"video\", action = \"extractAudio\"}"),
    Completion("ClassifierTransform (unlearn batch)",
      "{type = \"ClassifierTransform\", name = \"forget\", inputView = \"batch\", outputView = \"model2\",\n" +
        " textField = \"text\", labelField = \"label\", mode = \"unlearn\", modelView = \"model\"}"),
    Completion("WordCountsTransform (delete batch)",
      "{type = \"WordCountsTransform\", name = \"forget\", inputView = \"batch\", outputView = \"counts\",\n" +
        " countsURI = \"/path/wordcounts\", textField = \"text\", action = \"delete\"}"),
    Completion("IndexDedupTransform (takedown audit log)",
      "{type = \"IndexDedupTransform\", name = \"evidence\", inputView = \"ids\", outputView = \"takedowns\",\n" +
        " indexURI = \"/path/mhidx\", idField = \"doc_id\", textField = \"text\", action = \"log\"}"),
    Completion("TakedownExecute (one request, every store)",
      "{type = \"TakedownExecute\", name = \"request\", inputView = \"removed_ids\", outputView = \"report\",\n" +
        " idField = \"doc_id\", minhashURI = \"/path/mhidx\", spanURI = \"/path/spanidx\",\n" +
        " semURI = \"/path/semidx\", ivfURI = \"/path/ivfidx\", countsURI = \"/path/wordcounts\",\n" +
        " modelURI = \"/path/nbmodel\", corpusView = \"corpus\", textField = \"text\",\n" +
        " labelField = \"label\", auditURI = \"/path/takedown_audit\"}"),
    Completion("IvfIndexLoad (replace refreshed vectors)",
      "{type = \"IvfIndexLoad\", name = \"refresh\", inputView = \"newVectors\", outputURI = \"/path/ivfidx\",\n" +
        " idField = \"vec_id\", vectorField = \"embedding\", action = \"ingest\", replace = true}"),
    Completion("CompactExecute (store + trail maintenance)",
      "{type = \"CompactExecute\", name = \"mop\", outputView = \"report\",\n" +
        " minhashURI = \"/path/mhidx\", ivfURI = \"/path/ivfidx\",\n" +
        " auditURI = \"/path/takedown_audit\", maxFilesPerPartition = 8}"),
    Completion("CompactExecute (recover interrupted rewrite)",
      "{type = \"CompactExecute\", name = \"restore\", outputView = \"report\",\n" +
        " minhashURI = \"/path/mhidx\", action = \"recover\"}"),
    Completion("CompactExecute (IVF recall-drift probe)",
      "{type = \"CompactExecute\", name = \"freshness\", outputView = \"recall_report\",\n" +
        " ivfURI = \"/path/ivfidx\", action = \"recallProbe\",\n" +
        " recallK = 10, recallNprobe = 2, recallSample = 64, recallFloor = 0.9}"),
    Completion("TakedownExecute (request audit trail)",
      "{type = \"TakedownExecute\", name = \"evidence\", inputView = \"ids\", outputView = \"trail\",\n" +
        " idField = \"doc_id\", auditURI = \"/path/takedown_audit\", action = \"log\"}"),
    Completion("TakedownExecute (dry-run preview)",
      "{type = \"TakedownExecute\", name = \"sizing\", inputView = \"removed_ids\", outputView = \"preview\",\n" +
        " idField = \"doc_id\", minhashURI = \"/path/mhidx\", countsURI = \"/path/wordcounts\",\n" +
        " corpusView = \"corpus\", textField = \"text\", action = \"preview\"}"),
    Completion("TakedownExecute (resume interrupted request)",
      "{type = \"TakedownExecute\", name = \"complete\", inputView = \"removed_ids\", outputView = \"report\",\n" +
        " idField = \"doc_id\", minhashURI = \"/path/mhidx\", countsURI = \"/path/wordcounts\",\n" +
        " corpusView = \"corpus\", textField = \"text\", auditURI = \"/path/takedown_audit\",\n" +
        " requestId = \"legal-request-id\", resume = true}"),
    Completion("WordCountsTransform (id-addressed takedown)",
      "{type = \"WordCountsTransform\", name = \"forget\", inputView = \"removed_ids\", outputView = \"counts\",\n" +
        " countsURI = \"/path/wordcounts\", textField = \"text\", action = \"deleteIds\",\n" +
        " corpusView = \"corpus\", idField = \"doc_id\"}"),
    Completion("ClassifierTransform (id-addressed unlearn)",
      "{type = \"ClassifierTransform\", name = \"forget\", inputView = \"removed_ids\", outputView = \"model2\",\n" +
        " textField = \"text\", labelField = \"label\", mode = \"unlearnIds\", modelView = \"model\",\n" +
        " corpusView = \"corpus\", idField = \"doc_id\"}"),
    Completion("ClassifierTransform (persisted store)",
      "{type = \"ClassifierTransform\", name = \"nb\", inputView = \"labeled\", outputView = \"model\",\n" +
        " textField = \"text\", labelField = \"label\", mode = \"train\", modelURI = \"/path/nbmodel\"}"),
    Completion("SpanIndexTransform",
      "{type = \"SpanIndexTransform\", name = \"spanidx\", inputView = \"docs\", outputView = \"deduped\",\n" +
        " indexURI = \"/path/spanidx\", idField = \"doc_id\", textField = \"text\",\n" +
        " action = \"write\", shingleLength = 8}"),
    Completion("PackingTransform",
      "{type = \"PackingTransform\", name = \"pack\", inputView = \"docs\", outputView = \"packs\",\n" +
        " shardField = \"shard\", orderField = \"doc_id\", method = \"greedy\",\n" +
        " tokensField = \"n_tokens\", maxTokens = 2048}"),
    Completion("PackingTransform (token ids)",
      "{type = \"PackingTransform\", name = \"pack\", inputView = \"tokenized\", outputView = \"windows\",\n" +
        " shardField = \"shard\", orderField = \"doc_id\", method = \"tokenIds\",\n" +
        " docIdField = \"doc_id\", idsField = \"ids\", contextLength = 2048, bosId = 1, eosId = 2}"),
    Completion("LangIdTransform (und floor)",
      "{type = \"LangIdTransform\", name = \"langid\", inputView = \"docs\", outputView = \"labelled\",\n" +
        " textField = \"text\", method = \"ngramFloored\"}"),
    Completion("HtmlTextTransform",
      "{type = \"HtmlTextTransform\", name = \"html\", inputView = \"pages\", outputView = \"texts\",\n" +
        " htmlField = \"html\"}"),
    Completion("SemIndexLoad",
      "{type = \"SemIndexLoad\", name = \"semidx\", inputView = \"corpus\", outputURI = \"/path/sem\",\n" +
        " idField = \"id\", vectorField = \"embedding\", numClusters = 64, threshold = 0.95}"),
    Completion("SemIndexDedupTransform",
      "{type = \"SemIndexDedupTransform\", name = \"ingest\", inputView = \"batch\", outputView = \"kept\",\n" +
        " indexURI = \"/path/sem\", idField = \"id\", vectorField = \"embedding\", action = \"ingest\"}"),
    Completion("%explain", "%explain viewName mode=formatted"),
    Completion("%version", "%version"),
    Completion("%help", "%help")
  )

  private def escape(name: String): String =
    if (name.forall(c => c.isLetterOrDigit || c == '_')) name else s"`$name`"

  /** Recursively flatten a schema into dotted column paths. */
  def flattenSchema(schema: StructType, prefix: Option[String] = None): Seq[String] =
    schema.fields.toSeq.flatMap { case StructField(name, dataType, _, _) =>
      val path = prefix.fold(escape(name))(p => s"$p.${escape(name)}")
      dataType match {
        case st: StructType => flattenSchema(st, Some(path))
        case _              => Seq(path)
      }
    }

  /** One `SELECT <cols> FROM table` completion per table and temp view of the
    * current database whose name starts with `prefix`. Names and schemas come
    * from the session catalog's metadata, so no view is analysed again and
    * the cost does not grow with the plans behind the views.
    */
  def tableCompletions(spark: SparkSession, prefix: String = ""): Seq[Completion] = {
    val catalog = spark.sessionState.catalog
    catalog.listTables(catalog.getCurrentDatabase).filter(_.table.startsWith(prefix)).map { t =>
      val schema = catalog.getTempViewOrPermanentTableMetadata(t).schema
      val cols = flattenSchema(schema).mkString(s",\n  ")
      Completion(t.table, s"SELECT\n  $cols\nFROM ${t.table}")
    }
  }

  /** All completions whose label starts with the given (possibly empty) prefix. */
  def complete(spark: SparkSession, prefix: String): Seq[Completion] =
    static.filter(_.label.startsWith(prefix)) ++ tableCompletions(spark, prefix)
}
