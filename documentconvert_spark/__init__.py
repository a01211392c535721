"""documentconvert_spark — a PySpark-native document extraction engine.

Re-expresses what NanamiAkari/DocumentConvert computes (document bytes →
ordered interleaved text+media span sequence → Markdown, with resumable
task state, retries, metrics — see /root/repo/SURVEY.md) as idiomatic
Spark DataFrame code plus Arrow-vectorized pandas UDFs. This is a
from-scratch engine, not a port: the reference wraps MinerU/LibreOffice
subprocesses behind an asyncio queue; here the corpus is a DataFrame, the
queue is an anti-join against a checkpoint table, and the converters are
pure-Python kernels vectorized over Arrow batches.
"""

__version__ = "0.1.0"
