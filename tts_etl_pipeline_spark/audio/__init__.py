"""Audio ETL operators — the reference pipeline (process_audio.py) re-expressed
as a PySpark library.

Stage map (reference file:line -> module):
    glob/scan + decode (pa.py:79-92,396)  -> decode.py  (binaryFile + mapInArrow)
    normalize/downmix/resample (pa.py:85-89) -> decode.py (kernels.py math)
    segmentation T1 (pa.py:95-164)        -> segmentation.py (numpy slice per file)
    metrics P4-P7 (pa.py:167-210)         -> dsp.py
    quality gate F2 (pa.py:212-238)       -> filters.py
    ASR M1 (pa.py:241-278)                -> asr.py (mapInPandas, injectable model)
    text filters F4-F6 + overlap W1 (pa.py:281-333) -> filters.py / overlap.py
    sinks S3-S5 (pa.py:49-76,335-391)     -> ../sources/sink.py
    driver O1 (pa.py:393-426)             -> pipeline.py (one lazy DAG whose
        one Python stage runs decode .. S5 per file, with the Python twins
        of the gates and W1 and the shared ASR and clip-writer helpers)
"""
