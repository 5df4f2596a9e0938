import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
# the harness modules import each other as top-level modules, as they
# do when run.py runs them; the repo root provides pdf_extractor_spark
sys.path[:0] = [str(HERE.parent), str(HERE.parents[1])]
