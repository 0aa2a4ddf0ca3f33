import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
# The benchmark's modules import each other by bare name, as run.py does.
sys.path.insert(0, os.path.dirname(HERE))
# The package under test, for the TTL replay check.
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))
