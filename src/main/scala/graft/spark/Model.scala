package graft.spark

/** Relational schemas of the pipeline (SURVEY.md §1.2). The input shape is
  * authoritative from BASELINE.json input_hint:
  * (doc_id:string, spans:array<struct<kind,text,media_ref,offset>>).
  */
final case class Span(kind: String, text: String, media_ref: String, offset: Int)
final case class Doc(doc_id: String, spans: Seq[Span])

/** Flat triple row — columnar-friendly for shuffle-heavy dedup/canonicalization. */
final case class TripleRow(
    subj: String,
    pred: String,
    obj_kind: String, // iri | bnode | literal
    obj_value: String,
    obj_datatype: String,
    obj_lang: String,
    graph: String,
    doc_id: String
)

/** Expansion error channel (never fails the job; collected per doc+span). */
final case class DocError(doc_id: String, span_offset: Int, code: String, message: String)

/** Per-partition lineage/metrics row, checkpointed per stage (SURVEY.md §1.2). */
final case class PartitionLineage(
    bucket: Int,
    doc_count: Long,
    triple_count: Long,
    error_count: Long,
    wall_ms: Long
)
