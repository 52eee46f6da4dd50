"""Large-scale training-data pipeline operators.

The user-facing surface, re-exported for discoverability (each module's
own ``__all__`` is authoritative):

* :mod:`.dedup` — exact / incremental / MinHash+LSH / SimHash / n-gram /
  embedding near-dup, auto-regime :func:`~.dedup.near_dup`, one-call
  :func:`~.dedup.semantic_dedup`, cross-corpus
  :func:`~.dedup.fuzzy_join_minhash`
* :mod:`.graph` — large-star/small-star connected components, cluster
  labels, keep-canonical dedup
* :mod:`.similarity` — brute-force / blocked-GEMM cosine, IVF ANN
* :mod:`.text` — tokenization, quality features, Gopher rules,
  language-ID, fingerprints
* :mod:`.htmltext` — HTML→text main-content extraction
  (:func:`~.htmltext.extract_html_text`), mojibake repair
  (:func:`~.htmltext.fix_mojibake`)
* :mod:`.docxtext` — stdlib DOCX→text extraction
  (:func:`~.docxtext.extract_docx_text`; zip + WordprocessingML walk,
  raw-deflate salvage for truncated payloads, encrypted/legacy-doc
  CFB classing) and :func:`~.docxtext.docx_metadata` (Dublin-Core
  core properties)
* :mod:`.epubtext` — EPUB→text by composition
  (:func:`~.epubtext.extract_epub_text`: container→OPF→spine walk,
  each chapter through the htmltext kernel) and
  :func:`~.epubtext.epub_metadata` (OPF Dublin Core)
* :mod:`.rtftext` — RTF→text extraction
  (:func:`~.rtftext.extract_rtf_text`: group-stack tokenizer,
  codepage + ``\\uN``/surrogate-pair escapes, skip destinations)
* :mod:`.pdftext` — stdlib PDF→text extraction
  (:func:`~.pdftext.extract_pdf_text`; classic + PDF 1.5 xref/object
  streams, Flate/LZW/ASCIIHex/RunLength, ToUnicode CID text, visible
  degrade classes) and :func:`~.pdftext.pdf_metadata` (/Info +
  page count)
* :mod:`.curation` — decontamination, PII redaction, sequence packing,
  deterministic sampling, temperature resampling, repetition scoring
* :mod:`.multimodal` — binary media columns, sniff/decode/resize/frame
  plumbing (optional PIL real decode)
* :mod:`.mp3dec` — MPEG-1/2/2.5 Layer III: exact parse layer
  (:func:`~.mp3dec.parse_stream`), gated PCM decode
  (:func:`~.mp3dec.decode`), bitstream test writer
  (:func:`~.mp3dec.build_frames`)
"""

from .dedup import (  # noqa: F401
    exact_dedup,
    exact_dedup_incremental,
    exact_dedup_incremental_store,
    fuzzy_join_band_store,
    fuzzy_join_minhash,
    near_dup,
    near_dup_pairs_minhash,
    semantic_dedup,
    write_fingerprint_store,
)
from .graph import (  # noqa: F401
    cluster_labels,
    connected_components,
    dedup_keep_canonical,
)
from .curation import (  # noqa: F401
    DsirModel,
    cascade_report,
    contamination_report,
    filter_cascade,
    QualityClassifier,
    decontaminate,
    dsir_fit_score,
    dsir_resample,
    dsir_resample_tokens,
    train_dsir,
    pack_sequences,
    redact_pii,
    sample_deterministic,
    sample_per_group,
    temperature_resample,
    train_quality_classifier,
)
from .dedup import (  # noqa: F401
    compact_fingerprint_store,
)
from .similarity import (  # noqa: F401
    ann_recall,
    brute_force_topk,
    cosine_all_pairs_blocked,
    ivf_append,
    ivf_assign,
    ivf_build,
    ivf_drift_report,
    ivf_topk,
    kcenter_select,
    knn_graph,
    semantic_dedup_bucketed,
    semantic_dedup_ivf,
    sign_bucket,
)
from .text import (  # noqa: F401
    BpeModel,
    CharLM,
    bpe_token_count,
    bpe_tokenize,
    embed_documents,
    hashing_embed,
    train_bpe,
    train_char_lm,
)
from .htmltext import (  # noqa: F401
    decode_html_bytes,
    extract_html_metadata,
    extract_html_text,
    fix_mojibake,
    normalize_url,
    url_parts,
)
from .docxtext import (  # noqa: F401
    docx_format_report,
    docx_metadata,
    docx_write,
    extract_docx_text,
    extract_odt_text,
    extract_pptx_text,
    extract_xlsx_text,
    odt_write,
    ole_write,
    pptx_write,
    xlsx_write,
)
from .epubtext import (  # noqa: F401
    epub_metadata,
    epub_write,
    extract_epub_text,
)
from .rtftext import (  # noqa: F401
    extract_rtf_text,
    rtf_write,
)
from .pdftext import (  # noqa: F401
    extract_pdf_text,
    pdf_format_report,
    pdf_metadata,
    pdf_write,
)
