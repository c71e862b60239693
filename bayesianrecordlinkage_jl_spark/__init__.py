"""PySpark-native record-linkage engine.

A from-scratch rebuild (NOT a port) of the capabilities of
brendanstats/BayesianRecordLinkage.jl (reference at /root/reference):
blocking -> Fellegi-Sunter pairwise scoring over categorical comparison
vectors (Sadinle 2017) -> one-to-one resolution -> transitive clustering,
re-expressed Spark-first (DataFrame/Catalyst; Arrow-batched pandas UDFs
only where built-ins cannot express the semantics).

Reference entry points mirrored (see SURVEY.md section 2):
  - ComparisonSummary / SparseComparisonSummary  -> operators.comparison_summary
  - bipartite_cluster / iterative_bipartite_cluster2 -> operators.connected_components
  - max_C_cluster_* (LSAP per component)         -> operators.assignment
  - estimate_EM / max_MU                          -> operators.em
  - penalized_likelihood_search_*                 -> operators.map_solver
  - weights_vector / shrink_weights / posterior   -> functions.weights
  - levOrd / boolOrd comparators                  -> functions.comparators
  - mh_gibbs_count/trace (rw1+doubleswitch, rw2,
    locally-balanced barker/sqrt/min1/max1, gibbs) -> operators.mcmc
  - logpCRatios const/array/function priors       -> operators.mcmc
  - get_groupidcounts_* / get_segmentlinks        -> operators.map_solver
  - read_write_h5 checkpoints                     -> sources.checkpoint
  - exact matching posterior (what mh_gibbs
    samples, enumerated per small block)          -> operators.mcmc.exact_posterior_links
  - auction price recycling (update=true)         -> operators.assignment (auction_warm)

Beyond the reference: operators.dedup (exact/MinHash-LSH/SimHash/Jaccard
incl. LSH-verified scale path, all hot-bucket-salted),
operators.similarity (brute force / multi-band sign-LSH / IVF ANN with
both driver-sample and fully distributed trainers), functions.text,
streaming.ingest.
"""

__version__ = "0.3.0"
