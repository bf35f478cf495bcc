from pagerank_mapreduce_implementation_spark.plans.iterative import LoopScope

__all__ = ["LoopScope"]
