"""Pure-Python extraction kernels (no Spark imports).

These are the from-scratch analogues of the reference's conversion core
(`services/document_service.py` delegating to MinerU / LibreOffice —
SURVEY.md §2.9). Each kernel maps one document's raw bytes to an ordered
span sequence; the Spark layer batches them through Arrow pandas UDFs.
"""
