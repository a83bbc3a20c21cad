"""Engine-wide constants.

Every tunable mirrors a constant in the reference pipeline (cited per
line so parity is checkable); values are kept identical so the rebuilt
engine reproduces reference semantics exactly.
"""

# --- boilerplate stripping (reference: structured_extract.py:53-99,361-381)
PREFIX_LEN = 15              # structured_extract.py:66 (normalized-line prefix key)
MIN_PATTERN_PAGES = 3        # structured_extract.py:91 threshold floor
PATTERN_PAGE_FRACTION = 0.2  # structured_extract.py:91 (20% of pages in group)
MIN_NORM_LEN = 4             # structured_extract.py:81 (short lines never counted)
IMAGE_PLACEHOLDER = "[IMAGE]"  # structured_extract.py:355 image_placeholder

# --- figure/region filters (reference: structured_extract.py:29-30)
MIN_FIGURE_AREA_RATIO = 0.01  # figures smaller than 1% of page are icons
FIGURE_HEADER_RATIO = 0.12    # figures whose bbox sits in top 12% are headers
VISUAL_REVIEW_THRESHOLD = 0.35  # structured_extract.py:543 --visual-threshold default

# --- table title detection (reference: structured_extract.py:191-214)
TITLE_VERTICAL_THRESHOLD = 120.0
TITLE_OVERLAP_THRESHOLD = 0.5
TITLE_MAX_CHARS = 60
TITLE_OVERLAP_WEIGHT = 10.0   # score = vertical_gap - overlap * 10

# --- word-in-bbox containment (reference: table_ocr.py:25)
PDF_WORD_TOLERANCE = 2.0

# --- chunking (reference: build_vector_db.py:30-31,399-403)
CHUNK_SIZE = 512
CHUNK_OVERLAP = 50
CHUNK_SEPARATORS = ["\n\n", "\n", ". ", " "]

# --- retrieval (reference: search_vector_db.py:37-40,61)
BM25_K1 = 1.5
BM25_B = 0.75
SEMANTIC_WEIGHT = 0.6
KEYWORD_WEIGHT = 0.4
RERANK_CANDIDATES = 50
MAX_KEYWORD_DOCS = 2000       # kept for API parity; Spark needs no cap
NORM_EPS = 1e-8               # search_vector_db.py:164 constant-score guard

# --- OCR trigger (north_star: deterministic glyph-coverage classifier)
# A page whose glyph bounding boxes cover less than this fraction of the
# page area while an image covers most of it is treated as scanned and
# routed to the (stand-in) OCR pass.  Replaces the sampled emptiness
# check at pdf_text_extractor.py:176-201 with an exact per-page rule.
GLYPH_COVERAGE_TAU = 0.001
OCR_IMAGE_COVER_MIN = 0.5

# --- layout engine (from-scratch replacement for the reference's Docling
# call at structured_extract.py:631-639; thresholds are our own)
LINE_Y_QUANT = 2.0            # baseline clustering tolerance (pt)
WORD_GAP_FACTOR = 0.45        # x-gap > factor*font_size starts a new word
BLOCK_GAP_FACTOR = 1.8        # baseline gap > factor*font_size starts a new block
XYCUT_MIN_VGAP = 24.0         # vertical whitespace gap (pt) that splits columns
RECT_SNAP_TOL = 1.5           # cell-rect adjacency tolerance for table grids

# --- HTML boilerplate heuristics (north_star: text-density + link-density
# DOM stripper, trafilatura/readability-style; thresholds are our own)
HTML_LINK_DENSITY_MAX = 0.5
HTML_MIN_BLOCK_CHARS = 25     # short non-heading blocks are dropped
HTML_DROP_TAGS = frozenset(
    {"script", "style", "nav", "header", "footer", "aside", "noscript",
     "form", "button", "template", "svg"}
)
HTML_HEADING_TAGS = frozenset({"h1", "h2", "h3", "h4", "h5", "h6"})

# --- unit/value parsing (reference: load_to_db.py:37-41,129-154)
UNIT_MAX_LEN = 50

# --- synthetic payload format magic
SPDF_MAGIC = b"%SPDF1\n"

# --- scale knobs
# Arrow batch size for the extraction UDFs.  Round-1 used 64 (straggler
# control); the layout kernel now runs one task per core over the
# coalesced payload scan, and bigger batches cut JVM<->Python handoffs:
# measured pinned A/B at 48k docs — 4 cores 967->1214 docs/s,
# 16 cores 3178->3244 docs/s going 64->2048.
ARROW_MAX_RECORDS_PER_BATCH = 2048
# size gate for page-level repartitioning: documents at or below this
# payload size are laid out in place (no payload shuffle); larger ones
# split into page units and scatter on xxhash64(url, page_no) — the
# skew defense only pays its shuffle for the rows that need it
SPLIT_BYTES_THRESHOLD = 128 * 1024
