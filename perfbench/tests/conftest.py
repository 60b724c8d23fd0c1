import os
import sys

# the benchmark's modules import as ``perfbench.*`` and the program's as
# ``shaclapi_spark.*``, both from the checkout root
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))
