import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
# the benchmark's modules, and the checkout root for ``dsp_spark``
sys.path[:0] = [os.path.dirname(HERE), os.path.dirname(os.path.dirname(HERE))]
