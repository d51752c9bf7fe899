"""qfilter — a from-scratch PySpark-native quality-filter engine.

Re-expresses the decision semantics of the reference pipeline
(`elina-chertova/document-quality-classificator`, studied read-only at
/root/reference) as an idiomatic Spark DataFrame + vectorized Arrow UDF
pipeline over a columnar table of image+caption rows:

    (image_id string, bytes binary, w int, h int, fmt string,
     caption string, phash bigint)

Modules
-------
codecs     : raw/bmp/png/qjpg image encode+decode (numpy + zlib)
imageops   : shared numpy pixel primitives (filters, thresholds,
             morphology, connected components)
batch_image: shape-batched image features (blur, ROI, density, skew, ...)
batch_text : batched caption OCR-analogue features
phash      : 64-bit average hash
textops    : tokenizer, heuristics, langid, n-gram LM, PII/tox scrub
cascade    : the reference decision cascades as pure Column expressions
features   : Arrow-batched UDF stages (mapInArrow / pandas_udf)
dedup      : salted two-phase pHash dedup
pipeline   : stage graph + lineage/metrics + resume-from-checkpoint
catalog    : thin Iceberg-style parquet table layer
corpus     : text-corpus analytics ops over the `documents` table
             (+ deterministic dataset split / stratified sampling)
similarity : embedding ANN / LSH ops over the `embeddings` table
augment    : deterministic flip/crop/brightness training-data variants
session    : SparkSession factory with scale-oriented defaults
"""

__version__ = "0.1.0"
