"""warc2text_spark — a PySpark-native web-document extraction engine.

A brand-new implementation of the query/data-processing capabilities of
bitextor/warc2text (reference studied at /root/reference, cited per-module as
file:line), re-architected for Spark: the relational stages (header-derived
filters, routing, demux, metrics) are native DataFrame expressions that
Catalyst can push down and reorder, and the non-relational stages (HTML
tokenization/text assembly, entity decode, transport decode, charset
transcode, language id) are fused into one Arrow-batched kernel — never
per-row Python UDFs.

Input data model (one row per document, interleaved text + media spans):

    doc_id : string
    spans  : array<struct<kind:string, text:string, media_ref:string, offset:int>>
    + header-derived metadata columns (url, warc_type, warc_ct, http_status,
      http_ct, content_enc, transfer_enc, warc_date)

Output invariant per kept document: the ordered span sequence
``(kind, text, media_ref, order)`` equals the reference extraction semantics.
"""

__version__ = "0.1.0"
