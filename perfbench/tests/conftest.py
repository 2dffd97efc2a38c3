import os
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE.parent), str(HERE.parent.parent)]

# Spark's Python workers import the package too.
os.environ["PYTHONPATH"] = os.pathsep.join(
    [str(HERE.parent.parent)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
)
