"""PySpark-native analytics engine with the query/data-processing
capabilities of Mehmaam99/Retrieval_Augmented_Generation_RAG_Data_Pipeline
(see SURVEY.md), re-expressed as explicit, composable, distributed
DataFrame operators — plus the generalized LLM-data-pipeline operator set
(dedup, similarity search, text analysis, multimodal plumbing) designed
for 100 TB scale.

Layout
------
- ``session``    : SparkSession builder tuned for the workload
- ``sources``    : readers (parquet/binaryFile/wholetext), sinks, ledger
- ``operators``  : relational / windows / joins / vectors / dedup / text
- ``functions``  : portable scalar helpers (cross-engine hashing, arrays)
- ``plans``      : the reference pipeline (EP1) restated as a batch DAG
- ``streaming``  : the reference's poll loop as a Structured Streaming
                   micro-batch source + foreachBatch runner (T1-T4)
- ``ml``         : gated ASR/diarization UDFs with deterministic fakes
                   (never on the oracle-checked path) + byte-level media
                   features
"""

__version__ = "0.1.0"
