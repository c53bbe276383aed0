"""llm_aided_ocr_spark — a PySpark-native rebuild of the
Dicklesworthstone/llm_aided_ocr extraction-and-correction pipeline.

Layout:
    kernels       document-local pure-Python byte-semantics
    config        job configuration (the reference CLI's parameter surface)
    session       SparkSession factory with scale-tuned defaults
    sources/      input readers + deterministic synthetic corpus generator
    functions/    native Column expressions (tokens, header strip, ...)
    operators/    Arrow-vectorized pipeline stages (extract, chunk, correct,
                  assemble, filters, quality) and training-data extras
    plans/        end-to-end pipeline assembly, checkpointing, lineage
    streaming/    Structured Streaming ingestion: the fused pipeline, sinks and
                  stateful dedup over readStream sources (the reference has none)
"""

from llm_aided_ocr_spark.config import PipelineConfig
from llm_aided_ocr_spark.session import get_spark

__all__ = ["PipelineConfig", "get_spark"]
__version__ = "0.1.0"
