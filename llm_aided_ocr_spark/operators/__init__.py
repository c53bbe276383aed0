"""Spark operators, one module per family.

Import the submodule that holds an operator
(``from llm_aided_ocr_spark.operators.dedup import exact_dedup``): this
package imports nothing eagerly, so a Python worker that unpickles one
Arrow pass loads only the modules that pass needs.
"""
