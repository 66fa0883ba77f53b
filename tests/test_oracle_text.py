"""Existing oracle SQL never changes: the sha256 of every oracle_sql()
string is pinned here. A refactor of the query bodies (or a move of the
oracles into other modules) must leave every digest equal; a new oracle
adds its digest to the table."""

from __future__ import annotations

import hashlib

import __spark_entry__ as entry

PINNED = {
    "a5_groupby_set_union": "347a2742e698e89694f85bb7cc04ed676fe55b3f6d51393185cecbdf930a4679",
    "a6_distinct_pairs": "78a3810e9663e755386291485eb89237389e5b6a4397912574269e7a5b0a7d49",
    "a8_rollup_counts": "b055b0d8b5c32300790cf69651c72f5ede0bdf866ddbf28df70370554ee4d4ee",
    "a9_cube_counts": "ce2826a9e9cbea30e163755213c8e55ee6a4f801b5f8d9f220f78c93f6190222",
    "ann_cosine_top3": "023117c20c69fdac0f156ff0137f9afc85326e260c02281f9cdeb7a98c2225a9",
    "ann_ivf_top3": "caeb00016f4ee2dd5ca9d189131c69452a080edf526259a08b64705d87817fb5",
    "ann_kmeans_refine": "a3f35e2eacb4188b5ab12076b0c6ee3bf74b96a942a59109497091b3504a4130",
    "ann_lsh_multiprobe_top3": "24f4adffe5fae045910969172e8f56d6570961ea5f5153d6840a3f47bda83dc8",
    "ann_lsh_top3": "fcade81e83824d619a512454f3a8856e4300ecfc3b779971590e8c662bb6f0a9",
    "ann_rp_top3": "83747d53dafb3e178f779c0be3c279023fba23ada2bcbefd65cb1e6f397738e8",
    "ann_sq8_top3": "c87e8e8430498cbea732272ff8289b57d6882e119c8d0b867f18cc5e04440340",
    "corpus_epoch_order": "736ea4ff960072b098051f7d303256541a5012309116cac4e18f2704133a575f",
    "corpus_mixture": "9247c6312147b988f3148d7fcad4e7029746e00a43fe9a0382091b54334669b3",
    "corpus_sample": "b091ede979b03314c3d14037ed588b2bba55dee53d6875e8f241972981ca2cf4",
    "corpus_shard_pack": "f1a9f2afb2dc103d168189b7ad4cfd87bb666021453759474732ba43d07c05e5",
    "dedup_chunks": "f6b2e198a0561ebcb6cbfc061e6ef22cefbb81aa69965f7284053270f915c4c6",
    "dedup_embedding_neardup": "9e8a79690bfde4654cf3ffb6581db6d72897ddd928025182529e71414fa47f3a",
    "dedup_exact": "bae7d7eb67f30a90c3b6e194c3381421360b15a79bcf0e4f6b24a707268d5e01",
    "dedup_minhash_pairs": "d94758aee4dca8ac064dc79ed4c573d063d3f3a460090d75d895a0cf32de7c6d",
    "dedup_minhash_signatures": "f1e2118a33c4c5734bae3051141a84bffd9d83f6a4f3dd732b324142973a41da",
    "dedup_neardup_clusters": "fb6b93dc1d5571bfc0f4b7af47802bf5dead69772ecc83bb4ff07e17726147a7",
    "dedup_ngram_jaccard": "f7fba6ac7535ed741d3af3541fd7104649ce4c9a3440c38a3a8d5812204da41c",
    "dedup_repeated_spans": "dedb9e337114e5f4d943f2d840c17386fb9656a0cf1520ce1667e355ee6417bf",
    "dedup_simhash": "476c01d001f8ca7d1a2dbfb6904e1b249f2b6bcc43a0be3921487173da6410dc",
    "dedup_winnow_pairs": "d305f7b58909771fde1d820336b07e58d3d8ddc98f3e20944d19fc5409f57124",
    "f6_blacklist_anti_join": "e8cc4dbf0e7c3a0295b18b6399a2f5f317612a449b08acbc927d2fb179955326",
    "f7_semi_join": "a5194a1b3dadfea261a668db6142937a5aad3083ecd735ace673966d8637203f",
    "j1_broadcast_lookup_join": "3d67f7a2cc1309bf70c023febe856bbb1e57758a9ed0402c7d12ff6b5e2aa448",
    "j2_lcnaf_fallback": "fd018c64301f323077afa05c03e5bbba4af426426c1bd176fa36538c39f1f69a",
    "j4_fuzzy_scores": "f55da5802bb7ff103c681caea34d66b58730c3d514618a5dc7af0873566d6f37",
    "j5_variant_match": "d3ada8d3826fb6c7e6acfa1189fe07da40a63c7a5eeab0459337c5dc1416f3a5",
    "j6_redirect_resolution": "9fdf3c6a3a16e0235595be48e73e6da599c2dfc2dde53acce28772fd9a07b80d",
    "kg_agents": "5b530073f526fa42892067f31c57980249b4396cd33d33bfbd710dd0e5761647",
    "kg_agents_bucketed": "5b530073f526fa42892067f31c57980249b4396cd33d33bfbd710dd0e5761647",
    "kg_alt_forms": "93c9e310e9fd27743dd3c3f6551db16928403fc22aa838eeb5af32dc51f2999e",
    "kg_bfs_hops": "ddf306675b194de6eb35759268c6758f5c9cc5b73f8abec8ed1c0e6f5959dd69",
    "kg_cooccurrence": "dabebb9800ef227b0b1c960b38373d90d00c06553d437ffd6f3721c5ebe793b9",
    "kg_enumerate_agents": "d0e77150a017be5e9a4a57ea40ee97aaf52cab0df0e9f743af4feb9d0e09ad98",
    "kg_er_metrics": "679520bdd1d310822080c3153893917f490cad870e47b2d7eef4d4e2b70459ac",
    "kg_extract_text": "56ebf75857e40b3e9a0504eae9ba8a9047580b840998c16959fd7f6609fbee97",
    "kg_incremental_fold": "5b530073f526fa42892067f31c57980249b4396cd33d33bfbd710dd0e5761647",
    "kg_label_prop": "ba0bdcb0c7a35ccc76ecdb211fe5f85783545cf16821c48b5d7af982f537b6c3",
    "kg_lineage": "3e2d218029a194e3f0042751b16a6ff20d93e024cf2b6c6a8a1a4a2ae76ed3cb",
    "kg_linked": "0608c0f78582124169417ca20af4e95076ae69f296d51ec0401c3604537f9764",
    "kg_mentions": "e68bc0c422e920ca5ce6641afa62db97459b38ecbafed79c8af0f17430bd193a",
    "kg_mentions_gazetteer": "017e4b94b98a0f92d93d9b8ebd6d49bff96a5501614211288dc282ca798dc1b9",
    "kg_mentions_prose": "d847975463cbec0fff5482d83005ccdbda81fe82225f287e846ae95cedd5e013",
    "kg_negative_samples": "1c6ff07913876139289d3ccef71b886f6d9a73cdd0d1a41133f62e86b68303d7",
    "kg_pagerank": "2463a286683baee84cd02e19fe4937db1df06325f9dc730508c5f51bf2c57d18",
    "kg_stateful_totals": "36b2729601791efc627318f9af51878cf5b145b8fec8aa7ab79d289619fdabf8",
    "kg_temporal_provenance": "8a64673e2ee7188e1a230a8b38d260f03e5e5e03a7ae357bcb8e2809d76d0750",
    "kg_triangles": "72498db71d0c06de165cb6d62dbe2529826ce781973b74be87996ec6de363054",
    "kg_triples": "8f1f1e6bccef960298269c90605c4d89068878fa606b6aadb24ef5df0dc5099d",
    "kg_windowed_metrics": "e99059f3775892b435567b966fb370e10f43f9a6d7b6530d66057910e69159d7",
    "multimodal_audio_features": "cfef9607effdf5883bd3b6ead7088040f0caa9474686b4ed37a45f5b5bea84ae",
    "multimodal_frame_sample": "bec9bc58a8a889d065a8cfe16e6c48b7efed077b9b046a674110862783bd2036",
    "multimodal_image_features": "2a1c99b009eadda0de2331e73d57b6678d17849a8ea22409cd60114bf0ff47dd",
    "multimodal_resize": "3f2e49c17d0a3704b21dfa1c8c469dcd4df03a2714934c5b79e2628a7a7513ce",
    "o10_session_window": "d389d1b529e56a943a8a82baa890f20f2b337b11a6ca5ca1d9ec005869894cbc",
    "o11_pivot_event_types": "526e11c181a6d2247930bb20491e5a1094f9eaca8c34481cde4966f3cf62f456",
    "o2_latest_event_per_user": "14bae890215868b5be3efd54f1fda9f1e46b8400a76440830bf6ec04612eafee",
    "o2_window_top1_orders": "b66b9289827b1970e51d4d8118df400df1e6047d9fd83c84c705ac82745404b8",
    "o3_enumerate_customers": "6c3081c9537a00f9daddcee90314fc164ab9566a8a6ac143f59d54eda6cd6386",
    "o4_sessionize": "cfbabcfb79e54fc727b2d793c20ecfab6c8a6441b2340b18e6a3e36c4e160571",
    "o5_asof_join": "7684015f0a6cf21446daecd60f7b50e746fc4145596d6b82681342eb318bb0f9",
    "o6_trailing_window": "fdc04f944325ca9e38c281bb844a1a68bf1df29a1333e1818df3745afa31f485",
    "o7_sliding_window": "c0db4786e9066aaa0d746fd984e99769b1805fda9e2bda3270045ee1f4d05108",
    "o8_percentiles": "694cc210e66585f0c87ee285756a39902f1dc3ec84133b6e07b4cbb3d1e85032",
    "o9_interval_join": "3754b9f65155af262d6d915f85ead296b3937cd7ca8a78cc01b29572ce3cdb7f",
    "o9s_stream_interval_join": "04e1d9b3f16f9cea0b66b5a17d2f9d34ab370f0b12d4eea2a090579bc36ce5f5",
    "p2_regexp_extract_id": "cbde1e7cd3450212c845ece8c8b29f5b24ec5f5a96fe055da76ec38ea84a373b",
    "p4_promoted_mentions": "b1abdbab351c886b59b463e7e28c2107e504abbc6889fa8c6ce37e61f53407c8",
    "s11_dead_viaf": "0a061e2ae839c1780c483758d3da5c2d7413309f90e25cfcd0acf51527f8c5aa",
    "s15_error_log": "b377aa0ac4917b0810363334fd1c7c9d7b0e886ebf215c3c125c7093fee460b2",
    "s2_minmax_probe": "c4ef5bc641cff7eabf0f8d76f4c15d9a2223aa88fd81b4f00cecbbe424c51487",
    "s3_scan_project_filter": "1b447d29aed8be9783edfb9c1dbedf452f420739697c44e03ba23d07f9613715",
    "text_bm25_topk": "ee843363bb0c79119cbc0e24270e74de8a9e0640f7204b334d51394d6603bd99",
    "text_bpe_pair_stats": "de1c36d57abd1dc0cc5bc32b58e608d150eadc7116f9331740449c57036f2dcc",
    "text_corpus_stats": "f380744a94112bbd5c40f17b1723473e821aadfca346aa54ecca83bff898da2d",
    "text_decontaminate": "f6e20c4501c8814c82b26613fe8f1c3af81ef5423d7275a41bf76d07444f64ca",
    "text_fingerprint": "7f20cfdc6ba0c7cb0111a5ba7fbed79ac540713c580851631fe2e6c9f46b1337",
    "text_inverted_index": "2970ba77cc28bca0457a751ed42d4ccc56ff1ebeb163883ab106b063de827959",
    "text_lang_confusion": "6e3e9bc7ca6d99fb057daab18cfdbbfdbce566b05b485b5413f0aca34aaab91a",
    "text_lang_id": "3f26ca4c9abc3f216116aa03bcaa7984f65a1ef3a7375cdda62ac380eafb9a48",
    "text_ngram_counts": "5fd09f95c6ec4d6aec9ff79368d302dd0b39589e5ec8d6ab2067c5e5f685c841",
    "text_perplexity_bucket": "f6f37d5025c74af9bfb7a9cff5beb6e2c718d2ed1755b14d785cc0293c598e8f",
    "text_pii_scrub": "d51c149632b965195d1df1b95425e01fca7b8b0cce1e846ba1dfa8ceac82e459",
    "text_quality": "f17e50acb2f883a9db6d998774a1cf0f15cc4547e819ba8ee731f0f0378ca260",
    "text_quality_gate": "3b81b842f988c0cc4e467574b53bf0a110d65dc1e0f69ee26fe2234bc120e8f6",
    "text_repetition": "ba431f2458a541b8a10d663515fa6a0b2206d106444974034d18f206f756fb2d",
    "text_tfidf_topk": "8f32cdf2caaca6045fd9d6d7fbfda90b3ff45946218c8658a5509eb1cb7c6226",
    "text_token_counts": "1e9265cba7c16d99a51c87b4bb614dcda51b1569f5263d77f5c9a5f065dd48ed",
    "text_vocab_stats": "194a44cdbc8e64aa9656342a586fce1cd8f29912e2d9e652f4a40d0c15ecf355",
    "u2_union_priority": "b89aa6d460d916535db5490565f66c6eaa66b897de59d0332e33e9cc07966207",
    "u3_snapshot_diff": "106dadb2d2cfc2cb05fbde7426f97bd98269103413a260b8b2c2f60e9b99f550",
    "u4_intersect_except": "bc587aaf01478456e02f6b52f5a4aef7b713e1c31e5b21ff522aaad52ac56160",
    "url_dedup_latest": "de1064f55df7c2779408b6341f172b17b6c57d44dcf1ea01402eb5dedd36b644",
    "url_domain_filter": "e30520d1e520d6ddd344d1ce782f94b54c618b8934e2d85107e0b857006fa46f",
    "url_domain_stats": "f2578bf09862731b2d5777a7eb7d6276165348a5dfa6454a5dabeb4ccceeaba7",
    "webtext_curate": "97ee9ae64755af9761a68247ce93368cc5dce30a73aba38065de0d446cf7d33d",
}


def test_oracle_sql_text_is_pinned():
    got = {
        name: hashlib.sha256(sql.encode()).hexdigest()
        for name, sql in entry.oracle_sql().items()
    }
    changed = sorted(k for k in PINNED.keys() & got.keys() if PINNED[k] != got[k])
    assert not changed, f"oracle SQL text changed: {changed}"
    assert got.keys() == PINNED.keys(), (
        f"unpinned: {sorted(got.keys() - PINNED.keys())}, "
        f"missing: {sorted(PINNED.keys() - got.keys())}"
    )
