"""Fixed workload parameters. Every generated input and every fake-LLM
decision is a function of these constants, the workload seed and the
record itself, so two runs with one seed see byte-identical inputs.

Each constant says where its value comes from: the reference
implementation (as catalogued in SURVEY.md), the engine's own default,
or "chosen" — picked for this benchmark with no outside source, most
of them sized so that every workload's 4 + 22 runs fit the evaluation's
time budget on a 4-vCPU machine."""

# -- fake LLM (kg_build, kg_update) --------------------------------------
# Assumed, not measured: the reference calls Groq's llama-3.1-8b-instant
# (SURVEY.md), and no latency of it is recorded anywhere in this repo.
# 0.1 s is an assumed ~0.4 s short completion scaled down 4x for the
# time budget. At this delay waiting on the model is a visible share of
# a build operation (reported as `pipeline.extract_share`), so a change
# to extraction fan-out or concurrency shows in the build latency.
LLM_DELAY_S = 0.1
# Chosen: the reference logs no fault rates. 5% each puts every fault
# path (429 + retry, JSON scrape failure, validation drop) into every
# build operation (~15 of ~300 calls each).
LLM_RATE_LIMIT_SHARE = 0.05  # first call on these records answers 429
LLM_MALFORMED_SHARE = 0.05   # reply holds no parseable JSON object
LLM_INVALID_SHARE = 0.05     # one triplet lacks its object (validate drops it)
# The wait format of a Groq 429 the reference parses with
# `(\d+)m([\d\.]+)s` (SURVEY.md, `...Local/LLM/pipeline.py:50-54`) ...
LLM_SERVER_WAIT = "1m2.5s"
LLM_WAIT_SCALE = 0.001       # ... scaled to 62.5 ms through retry_kwargs (time budget)
# The reference's AWS variant gathers 5 calls in flight per stage
# (SURVEY.md, `...AWS/LLM/pipeline.py:35`).
LLM_CONCURRENCY = 5

# -- kg_build: graph ------------------------------------------------------
# 8 of the reference's 30-record ingest chunks (SURVEY.md,
# `...Local/config.py:11`); the number of chunks is chosen for the time
# budget (an operation takes ~17 s on 4 vCPUs).
BUILD_RECORDS_PER_OP = 240
# Chosen (steadiness): every run times at least two builds and reports
# their median. With one ~17 s build per 20 s window, op_p50_ms spread
# 9.1% over ten seeds on 4 vCPUs, above a third of its 25% bound.
BUILD_MIN_OPS = 2
# Chosen (time budget): the untimed warm-up build is a quarter batch. It
# runs every code path once (Python workers, codegen, first reads), which
# is what takes a cold build from ~20 s to ~35 s; its size hardly matters.
BUILD_WARMUP_RECORDS = 60
# From a prototype measurement: resolve_entities on 7,300 names sharing
# one blocking key took 100 s without a cap and 8.5 s with max_block=200.
RESOLVE_MAX_BLOCK = 200
RESOLVE_MAX_EDIT = 2         # the engine's default max_edit
# Each build resolves its Person mentions together with the catalogue's
# known artists. Known artists are Zipf-sized by blocking key: the
# first name of rank r holds round(KNOWN_TOP_BLOCK / r ** KNOWN_BLOCK_SKEW)
# names, one block per first name. Chosen so the largest block (260)
# exceeds RESOLVE_MAX_BLOCK and is skipped, and the second (~180 plus
# the batch's spelling variants) sits just under it and is joined
# quadratically — both sides of the cap in every operation. The real
# block of that prototype held 7,300 names; 260 is scaled to the budget.
KNOWN_TOP_BLOCK = 260
KNOWN_BLOCK_SKEW = 0.53
VARIANT_SHARE = 0.15         # chosen: artist mentions spelled one edit off

# -- kg_build: curation of the batch's documents ----------------------------
# Chosen: one description document per record, plus planted cases so
# every curate stage has work in every operation.
DOC_FILLER_WORDS = (50, 70)  # words of catalogue prose per document
DOC_EXACT_DUP_SHARE = 0.08   # documents copied verbatim under a new id
DOC_NEAR_DUP_SHARE = 0.08    # copies with one word replaced (3-shingle Jaccard ~0.9)
DOC_LEAK_SHARE = 0.05        # copies of an evaluation document
DOC_BENCHMARK_DOCS = 24      # evaluation documents per operation
DOC_BOILERPLATE_SHARE = 0.3  # documents ending in the shared licence line
DOC_PII_SHARE = 0.1          # documents carrying an e-mail address or phone number

# -- kg_update ------------------------------------------------------------
SERVE_RECORDS = 600          # chosen (time budget): records behind the served graph
SERVE_CLIENTS = 2            # chosen: closed-loop client threads, one per ~2 cores
# Chosen: entity popularity is Zipf-skewed so hot keys repeat; no
# exponent was measured, and s ~ 1 is Zipf's law itself.
ZIPF_S = 1.1
EMBED_DIM = 16               # chosen (time budget)
IVF_LISTS = 8                # chosen: ~75 vectors per list
IVF_PROBE = 3                # chosen: probe 3 of 8 lists
KNN_K = 5                    # chosen
KNN_RECALL_FLOOR = 0.6       # chosen floor on mean recall@k of sampled knn answers
BM25_K = 5                   # chosen
# Query mix, one period of each client's schedule (repeats in order):
# 40% point lookup, 30% knn, 20% BM25, 10% 2-hop. Chosen: the reference
# serves no queries (it only loads Neo4j), so there is no measured mix;
# cheap point lookups dominate, and every kind keeps a share of at
# least 10% so each is sampled in every 20 s window.
QUERY_MIX = ("lookup", "knn", "lookup", "text", "khop",
             "lookup", "knn", "text", "lookup", "knn")
# Chosen (time budget): 10 records/s offered, so a 0.5 s trigger keeps
# about one micro-batch in flight beside the readers on 4 cores.
UPDATE_FILE_EVERY_S = 2.0    # open-loop record-file drop period
UPDATE_RECORDS_PER_FILE = 20
UPDATE_TRIGGER_S = 0.5       # streaming trigger interval
UPDATE_ABSORB_MIN_BATCHES = 4
